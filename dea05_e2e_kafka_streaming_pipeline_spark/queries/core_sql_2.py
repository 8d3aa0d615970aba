"""Registry queries: core_sql family (part 2). Split from queries.py
(r4 verdict item 2); registration order within the family preserved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dea05_e2e_kafka_streaming_pipeline_spark.queries._registry import (  # noqa: F401
    register,
)
from dea05_e2e_kafka_streaming_pipeline_spark.queries._shared import *  # noqa: F401,F403




@register(
    "fk_orphans_audit",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
                                     WHERE o_orderkey IS NOT NULL))
             AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT count(*) FROM lineitem
            WHERE l_partkey NOT IN (SELECT p_partkey FROM part
                                    WHERE p_partkey IS NOT NULL))
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           (SELECT count(*) FROM lineitem
            WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_suppkey IS NOT NULL))
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT count(*) FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                                    WHERE c_custkey IS NOT NULL))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT count(*) FROM customer
            WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation
                                      WHERE n_nationkey IS NOT NULL))
    UNION ALL
    SELECT 'nation.n_regionkey->region',
           (SELECT count(*) FROM nation
            WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region
                                      WHERE r_regionkey IS NOT NULL))
    """,
)
def q_fk_orphans_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep of every foreign-key edge in the
    star schema: per edge, the count of child rows whose key has no
    parent — the cross-TABLE data-quality layer above the per-row DQ
    suite (operators/quality.py screens values; this screens the
    schema's joins). Each edge is one left-anti join with the parent
    key set broadcast (dimension-sized) or shuffled (orders at 100 TB —
    AQE's call); NULL child keys count as orphans in both engines
    (anti-join semantics; the oracle's NOT IN guards the parent side
    only)."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    def orphans(
        edge: str, child: DataFrame, ck: str, parent: DataFrame, pk: str
    ) -> DataFrame:
        return (
            child.join(
                parent.select(pk).filter(F.col(pk).isNotNull()),
                child[ck] == F.col(pk),
                "left_anti",
            ).agg(
                F.lit(edge).alias("fk_edge"),
                F.count(F.lit(1)).alias("n_orphans"),
            )
        )

    li = load_table(spark, sf_dir, "lineitem")
    return (
        orphans(
            "lineitem.l_orderkey->orders",
            li, "l_orderkey",
            load_table(spark, sf_dir, "orders"), "o_orderkey",
        )
        .unionAll(orphans(
            "lineitem.l_partkey->part",
            li, "l_partkey",
            load_table(spark, sf_dir, "part"), "p_partkey",
        ))
        .unionAll(orphans(
            "lineitem.l_suppkey->supplier",
            li, "l_suppkey",
            load_table(spark, sf_dir, "supplier"), "s_suppkey",
        ))
        .unionAll(orphans(
            "orders.o_custkey->customer",
            load_table(spark, sf_dir, "orders"), "o_custkey",
            load_table(spark, sf_dir, "customer"), "c_custkey",
        ))
        .unionAll(orphans(
            "customer.c_nationkey->nation",
            load_table(spark, sf_dir, "customer"), "c_nationkey",
            load_table(spark, sf_dir, "nation"), "n_nationkey",
        ))
        .unionAll(orphans(
            "nation.n_regionkey->region",
            load_table(spark, sf_dir, "nation"), "n_regionkey",
            load_table(spark, sf_dir, "region"), "r_regionkey",
        ))
    )




@register(
    "bfs_hops_parts",
    oracle="""
    WITH RECURSIVE items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), e AS MATERIALIZED (
      SELECT a.pk AS src, b.pk AS dst
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ), und AS MATERIALIZED (
      SELECT src AS a, dst AS b FROM e
      UNION ALL SELECT dst, src FROM e
    ), bfs(v, d) AS (
      SELECT CAST(0 AS BIGINT), 0
      UNION ALL
      SELECT und.b, bfs.d + 1 FROM bfs JOIN und ON und.a = bfs.v
      WHERE bfs.d < 4
    )
    SELECT v AS part_id, CAST(min(d) AS INT) AS hops
    FROM bfs GROUP BY v
    """,
)
def q_bfs_hops_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop BFS shortest distances from part 0 through the
    co-purchase graph (≤4 hops) — the "customers also bought, N steps
    out" expansion behind recommendation candidate generation. The
    engine unrolls 4 frontier-join levels with a DISTINCT per level, so
    each level's row count is bounded by |V| (no path enumeration); the
    oracle's recursive CTE enumerates paths and min-aggregates — same
    distances, and the contrast is the point: level-synchronous
    frontier BFS is the form that survives a dense 100 TB graph. Fully
    lazy plan (fixed unroll — no driver loop, unlike `k_core`'s
    convergence peeling)."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    items = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    e = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .groupBy(F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
        .agg(F.count(F.lit(1)).alias("together"))
        .filter(F.col("together") >= 2)
        .select("src", "dst")
    )
    und = e.select(F.col("src").alias("va"), F.col("dst").alias("vb")).unionAll(
        e.select(F.col("dst").alias("va"), F.col("src").alias("vb"))
    )
    seed = spark.range(1).select(
        F.lit(0).cast("long").alias("v"), F.lit(0).alias("d")
    )
    levels = [seed]
    frontier = seed.select("v")
    for depth in range(1, 5):
        nxt = (
            frontier.join(und, frontier["v"] == und["va"])
            .select(F.col("vb").alias("v"))
            .distinct()
        )
        levels.append(nxt.select("v", F.lit(depth).alias("d")))
        frontier = nxt
    from functools import reduce

    allv = reduce(lambda l, r: l.unionAll(r), levels)
    return allv.groupBy(F.col("v").alias("part_id")).agg(
        F.min("d").cast("int").alias("hops")
    )




@register(
    "user_acquisition_curve",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(date_trunc('hour', ts)) AS hour
      FROM events GROUP BY 1
    ), hourly AS (
      SELECT hour, count(*) AS new_users FROM first_seen GROUP BY 1
    )
    SELECT hour, new_users,
           CAST(SUM(new_users) OVER (ORDER BY hour
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM hourly
    """,
)
def q_user_acquisition_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-distinct-users growth curve by hour — the acquisition
    chart every product dashboard opens with, WITHOUT a per-bucket
    count(DISTINCT) re-scan: each user reduces to a first-seen hour
    (one shuffle on user_id), hours aggregate to new-user counts, and
    the cumulative sum runs over the bounded |hours| series (the
    documented exception). Exact integers throughout."""
    from pyspark.sql import Window

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    first_seen = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.date_trunc("hour", F.min("ts")).alias("hour"))
    )
    hourly = first_seen.groupBy("hour").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    return hourly.select(
        "hour",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )




@register(
    "revenue_mix_shift",
    oracle="""
    WITH m AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
             o_orderpriority AS priority,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ), s AS (
      SELECT month, priority, cents,
             CAST(SUM(cents) OVER (PARTITION BY month) AS BIGINT)
               AS month_cents
      FROM m
    ), sh AS (
      SELECT month, priority,
             round(CAST(cents AS DOUBLE) / month_cents, 6) AS share_r6
      FROM s
    )
    SELECT month, priority, share_r6,
           round(share_r6 - lag(share_r6) OVER (PARTITION BY priority
                                                ORDER BY month), 6)
             AS shift_r6
    FROM sh
    """,
)
def q_revenue_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue-mix shift across order priorities: each
    (month, priority) cell's share of its month's revenue, and the
    delta vs the previous month — the mix-shift decomposition that
    separates "the business grew" from "the business changed shape".
    Exact integer-cents shares (one division, round 6); the lag window
    partitions by priority over the bounded month series. Two shuffles:
    the (month, priority) aggregate, then the tiny cell table's
    windows."""
    from pyspark.sql import Window

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM").alias(
                "month"
            ),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("cents")
        )
    )
    s = m.withColumn(
        "month_cents", F.sum("cents").over(Window.partitionBy("month")).cast("long")
    )
    sh = s.select(
        "month",
        "priority",
        F.round(F.col("cents").cast("double") / F.col("month_cents"), 6).alias(
            "share_r6"
        ),
    )
    lagw = Window.partitionBy("priority").orderBy("month")
    return sh.select(
        "month",
        "priority",
        "share_r6",
        F.round(
            F.col("share_r6") - F.lag("share_r6").over(lagw), 6
        ).alias("shift_r6"),
    )




@register(
    "simpson_diversity_sources",
    oracle="""
    WITH s AS (
      SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2
    ), agg AS (
      SELECT lang,
             CAST(SUM(n) AS BIGINT) AS n_docs,
             count(*) AS n_sources,
             CAST(SUM(n * (n - 1)) AS BIGINT) AS num
      FROM s GROUP BY 1
    )
    SELECT lang, n_docs, n_sources,
           round(CAST(num AS DOUBLE) / (n_docs * (n_docs - 1)), 6)
             AS simpson_r6
    FROM agg WHERE n_docs > 1
    """,
)
def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson concentration index of source composition within each
    language — P(two random docs share a source) = Σnᵢ(nᵢ−1)/(N(N−1)),
    the corpus-mixing diagnostic (high = one source dominates, the
    homogenization risk for training mixes). Numerator and denominator
    are exact integer aggregates; one division rounds at 6. Two cheap
    shuffles to the (lang, source) and lang grains."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    s = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    agg = s.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_sources"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("long").alias("num"),
    )
    return agg.filter(F.col("n_docs") > 1).select(
        "lang",
        "n_docs",
        "n_sources",
        F.round(
            F.col("num").cast("double")
            / (F.col("n_docs") * (F.col("n_docs") - 1)),
            6,
        ).alias("simpson_r6"),
    )




@register(
    "welch_ttest_segments",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS seg,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS p
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ), g AS (
      SELECT seg, count(*) AS n,
             CAST(SUM(p) AS DOUBLE) AS s1,
             CAST(SUM(p * p) AS DOUBLE) AS s2
      FROM j GROUP BY 1
    ), w AS (
      SELECT
        MAX(CASE WHEN seg = 'BUILDING' THEN n END) AS n_a,
        MAX(CASE WHEN seg = 'BUILDING' THEN s1 END) AS s1_a,
        MAX(CASE WHEN seg = 'BUILDING' THEN s2 END) AS s2_a,
        MAX(CASE WHEN seg = 'MACHINERY' THEN n END) AS n_b,
        MAX(CASE WHEN seg = 'MACHINERY' THEN s1 END) AS s1_b,
        MAX(CASE WHEN seg = 'MACHINERY' THEN s2 END) AS s2_b
      FROM g
    ), v AS (
      SELECT n_a, n_b,
             s1_a / n_a AS m_a, s1_b / n_b AS m_b,
             (s2_a - s1_a * s1_a / n_a) / (n_a - 1) / n_a AS q_a,
             (s2_b - s1_b * s1_b / n_b) / (n_b - 1) / n_b AS q_b
      FROM w
    )
    SELECT n_a, n_b, round(m_a, 6) AS mean_a_r6, round(m_b, 6) AS mean_b_r6,
           round((m_a - m_b) / sqrt(q_a + q_b), 6) AS t_stat_r6,
           round((q_a + q_b) * (q_a + q_b)
                 / (q_a * q_a / (n_a - 1) + q_b * q_b / (n_b - 1)), 6)
             AS df_r6
    FROM v
    """,
)
def q_welch_ttest_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test comparing mean order value
    between the BUILDING and MACHINERY segments — the A/B-comparison
    primitive (unequal n, unequal variance, Welch–Satterthwaite df).
    Group moments come from EXACT decimal sums (Σp, Σp² at scale 4)
    cast to double once, then the statistic is a fixed scalar
    expression tree on the 2-row aggregate — identical in both engines,
    no float accumulation anywhere."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
    )
    g = j.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p").cast("double").alias("s1"),
        F.sum(F.col("p") * F.col("p")).cast("double").alias("s2"),
    )

    def pick(seg: str, col: str):
        return F.max(F.when(F.col("seg") == seg, F.col(col)))

    w = g.agg(
        pick("BUILDING", "n").alias("n_a"),
        pick("BUILDING", "s1").alias("s1_a"),
        pick("BUILDING", "s2").alias("s2_a"),
        pick("MACHINERY", "n").alias("n_b"),
        pick("MACHINERY", "s1").alias("s1_b"),
        pick("MACHINERY", "s2").alias("s2_b"),
    )
    m_a = F.col("s1_a") / F.col("n_a")
    m_b = F.col("s1_b") / F.col("n_b")
    q_a = (
        (F.col("s2_a") - F.col("s1_a") * F.col("s1_a") / F.col("n_a"))
        / (F.col("n_a") - 1)
        / F.col("n_a")
    )
    q_b = (
        (F.col("s2_b") - F.col("s1_b") * F.col("s1_b") / F.col("n_b"))
        / (F.col("n_b") - 1)
        / F.col("n_b")
    )
    v = w.select(
        "n_a", "n_b",
        m_a.alias("m_a"), m_b.alias("m_b"),
        q_a.alias("q_a"), q_b.alias("q_b"),
    )
    return v.select(
        "n_a",
        "n_b",
        F.round("m_a", 6).alias("mean_a_r6"),
        F.round("m_b", 6).alias("mean_b_r6"),
        F.round(
            (F.col("m_a") - F.col("m_b"))
            / F.sqrt(F.col("q_a") + F.col("q_b")),
            6,
        ).alias("t_stat_r6"),
        F.round(
            (F.col("q_a") + F.col("q_b")) * (F.col("q_a") + F.col("q_b"))
            / (
                F.col("q_a") * F.col("q_a") / (F.col("n_a") - 1)
                + F.col("q_b") * F.col("q_b") / (F.col("n_b") - 1)
            ),
            6,
        ).alias("df_r6"),
    )
