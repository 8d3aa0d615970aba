"""Round-3 analytics extensions: sequential/frame windows, multi-join
TPC-H shapes, BM25 retrieval, percent-rank screens, HLL sketches.

Toy-data tests pin the operator semantics; oracle tests reuse the
driver-equivalent DuckDB comparator; plan tests pin the physical
strategy (broadcasts, pushdown, TakeOrdered) the 100 TB story rests on.
"""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F
import pytest

from dea05_e2e_kafka_streaming_pipeline_spark.operators.text import bm25_topk
from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import (
    approx_distinct_report,
    customer_order_gaps,
    percentile_outliers,
)
from dea05_e2e_kafka_streaming_pipeline_spark.queries import oracles, queries
from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

from tests.conftest import SF_DIR, assert_matches_oracle


def _orders(spark, rows):
    return spark.createDataFrame(
        [
            (i, datetime.date.fromisoformat(d), 10.0, cust)
            for i, (d, cust) in enumerate(rows)
        ],
        "order_id long, order_date date, order_amount double, customer_id long",
    )


def test_customer_order_gaps_toy(spark):
    df = _orders(
        spark,
        [
            ("2024-01-01", 1),
            ("2024-01-11", 1),
            ("2024-01-14", 1),
            ("2024-03-01", 2),  # single order: excluded by min_orders=2
        ],
    )
    got = {r.customer_id: r for r in customer_order_gaps(df).collect()}
    assert set(got) == {1}
    r = got[1]
    assert (r.n_orders, r.n_gaps) == (3, 2)
    assert (r.min_gap_days, r.max_gap_days) == (3, 10)
    assert r.avg_gap_days == pytest.approx(6.5)


def test_customer_order_gaps_same_day_ties_deterministic(spark):
    # two orders on the same date: lag order falls back to order_id
    df = _orders(spark, [("2024-01-05", 7), ("2024-01-05", 7)])
    r = customer_order_gaps(df).collect()[0]
    assert (r.n_gaps, r.min_gap_days, r.max_gap_days) == (1, 0, 0)


def test_percentile_outliers_membership_exact(spark):
    df = spark.createDataFrame(
        [(i, "a", float(i)) for i in range(1, 101)],
        "event_id long, event_type string, value double",
    )
    got = percentile_outliers(df, "event_type", "value", cutoff=0.99).collect()
    # percent_rank = (rank-1)/99; only value=100 reaches 1.0 >= 0.99
    assert [(r.event_id, r.pct_rank) for r in got] == [(100, 1.0)]


def test_percentile_outliers_ties_share_rank(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 5.0), (3, "a", 5.0)],
        "event_id long, event_type string, value double",
    )
    got = percentile_outliers(df, "event_type", "value", cutoff=0.5).collect()
    # both 5.0 rows have rank 2 -> percent_rank 0.5 each
    assert sorted(r.event_id for r in got) == [2, 3]


def test_bm25_ranks_rare_term_doc_first(spark):
    df = spark.createDataFrame(
        [
            (1, "spark spark spark common common"),
            (2, "needle common common common common"),
            (3, "common common common common common"),
            (4, "spark common common common common"),
        ],
        "doc_id long, text string",
    )
    got = bm25_topk(df, ("needle",), k=4).collect()
    # only the needle doc scores > 0 for a term absent elsewhere
    assert [r.doc_id for r in got] == [2]

    by_spark = bm25_topk(df, ("spark",), k=4).collect()
    # higher tf wins for the same term; doc without the term filtered out
    assert [r.doc_id for r in by_spark] == [1, 4]
    assert by_spark[0].bm25_score > by_spark[1].bm25_score


def test_bm25_requires_terms(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="at least one query term"):
        bm25_topk(df, ())


def test_bm25_plan_is_takeordered_no_wide_shuffle(spark):
    docs = load_table(spark, SF_DIR, "documents")
    plan = (
        bm25_topk(docs, ("spark", "dup"), k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan  # stats come back via broadcast


def test_approx_distinct_report_within_rsd_envelope(spark):
    df = spark.createDataFrame(
        [(i % 3, i % 997) for i in range(5000)], "k int, v int"
    )
    rows = approx_distinct_report(df, "k", "v", rsd=0.01).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.exact_distinct == 997 if r.k == 0 else r.exact_distinct <= 997
        assert r.rel_err <= 0.05  # 5x the configured rsd


def test_running_monthly_revenue_matches_oracle(spark, duck):
    assert_matches_oracle(
        queries()["running_monthly_revenue"](spark, SF_DIR),
        duck,
        oracles()["running_monthly_revenue"],
    )


def test_promo_revenue_share_matches_oracle(spark, duck):
    assert_matches_oracle(
        queries()["promo_revenue_share"](spark, SF_DIR),
        duck,
        oracles()["promo_revenue_share"],
    )


def test_bi_nation_trade_volume_matches_oracle(spark, duck):
    assert_matches_oracle(
        queries()["bi_nation_trade_volume"](spark, SF_DIR),
        duck,
        oracles()["bi_nation_trade_volume"],
    )


def test_disjunctive_part_revenue_matches_oracle(spark, duck):
    assert_matches_oracle(
        queries()["disjunctive_part_revenue"](spark, SF_DIR),
        duck,
        oracles()["disjunctive_part_revenue"],
    )


def test_disjunctive_predicates_push_below_join(spark):
    # Q19's scale story: each side's implied disjunction is extracted
    # from the OR-of-ANDs and pushed below the join, so the lineitem
    # scan carries a quantity bound and the part scan a brand/size
    # bound BEFORE the join evaluates the exact cross-side branches.
    plan = (
        queries()["disjunctive_part_revenue"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pushed = [
        seg.split("PushedFilters")[1].split("ReadSchema")[0]
        for seg in plan.split("FileScan parquet")
        if "PushedFilters" in seg
    ]
    assert any("l_quantity" in p for p in pushed), pushed
    assert any("p_brand" in p or "p_size" in p for p in pushed), pushed


def test_part_supplier_diversity_matches_oracle(spark, duck):
    assert_matches_oracle(
        queries()["part_supplier_diversity"](spark, SF_DIR),
        duck,
        oracles()["part_supplier_diversity"],
    )


def test_unigram_surprisal_matches_oracle(spark, duck):
    assert_matches_oracle(
        queries()["unigram_surprisal_docs"](spark, SF_DIR),
        duck,
        oracles()["unigram_surprisal_docs"],
    )


def test_unigram_surprisal_toy_ranks_garbage_high(spark):
    # 3 docs sharing common tokens + 1 doc of singletons: the singleton
    # doc must carry the highest mean surprisal (rarest tokens).
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.text import (
        unigram_surprisal,
    )

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat on the rug"),
            (3, "the cat and the dog"),
            (4, "zqx jvw pfft"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in unigram_surprisal(df).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[4].n_tokens == 3
    assert all(
        rows[4].surprisal_nats > rows[i].surprisal_nats for i in (1, 2, 3)
    )


def test_events_props_stats_matches_oracle(spark, duck):
    assert_matches_oracle(
        queries()["events_props_stats"](spark, SF_DIR),
        duck,
        oracles()["events_props_stats"],
    )


def test_local_supplier_volume_pushdown_and_broadcasts(spark):
    plan = (
        queries()["local_supplier_volume"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # date-range predicate reaches the orders parquet scan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    # geography dims and supplier ride broadcast joins
    assert plan.count("BroadcastHashJoin") >= 3


def test_trailing_window_counts_range_frame(spark):
    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import (
        trailing_window_counts,
    )

    rows = [
        (1, 7, "2024-01-01 10:00:00"),
        (2, 7, "2024-01-01 10:03:00"),  # within 300s of #1
        (3, 7, "2024-01-01 10:07:30"),  # >300s after #1, within 300s of #2
        (4, 7, "2024-01-01 12:00:00"),  # isolated
        (5, 8, "2024-01-01 10:04:00"),  # other key: frames independent
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string"
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    got = {
        r.event_id: r.n_trailing
        for r in trailing_window_counts(df, "user_id", "ts", 300).collect()
    }
    assert got == {1: 1, 2: 2, 3: 2, 4: 1, 5: 1}


def test_pack_training_sequences_spans_and_bins(spark):
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.curation import (
        pack_training_sequences,
    )

    # token counts: 6, 3, 5 in one source -> stream offsets 0..14
    df = spark.createDataFrame(
        [
            (1, "s", "a b c d e f"),
            (2, "s", "g h i"),
            (3, "s", "j k l m n"),
            (4, "s", ""),  # empty doc: dropped from the stream
            (5, "t", "x y"),  # separate source: independent stream
        ],
        "doc_id long, source string, text string",
    )
    got = {
        r.doc_id: r
        for r in pack_training_sequences(df, seq_len=4, partition_col="source").collect()
    }
    assert set(got) == {1, 2, 3, 5}
    assert (got[1].token_start, got[1].token_end) == (0, 6)
    assert (got[1].first_seq, got[1].last_seq, got[1].n_seqs) == (0, 1, 2)
    assert (got[2].token_start, got[2].token_end) == (6, 9)
    assert (got[2].first_seq, got[2].last_seq) == (1, 2)
    assert (got[3].token_start, got[3].token_end) == (9, 14)
    assert (got[3].first_seq, got[3].last_seq, got[3].n_seqs) == (2, 3, 2)
    # second source restarts at offset 0
    assert (got[5].token_start, got[5].first_seq) == (0, 0)


def test_pack_training_sequences_rejects_bad_seq_len(spark):
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.curation import (
        pack_training_sequences,
    )

    df = spark.createDataFrame([(1, "s", "a")], "doc_id long, source string, text string")
    with pytest.raises(ValueError, match="seq_len"):
        pack_training_sequences(df, seq_len=0)


def test_events_burst_detection_matches_oracle(spark, duck):
    assert_matches_oracle(
        queries()["events_burst_detection"](spark, SF_DIR),
        duck,
        oracles()["events_burst_detection"],
    )


def test_edit_distance_pairs_toy(spark):
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import (
        edit_distance_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),  # dist 3 to #1
            (3, "a completely different document about sparks"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of #1
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b): r.edit_distance
        for r in edit_distance_pairs(df, max_dist=5, k=3).collect()
    }
    assert got == {(1, 2): 3, (1, 4): 0, (2, 4): 3}


def test_edit_distance_pairs_threshold_excludes(spark):
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import (
        edit_distance_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon omega kappa lambda"),
        ],
        "doc_id long, text string",
    )
    wide = edit_distance_pairs(df, max_dist=60, k=2).collect()
    assert len(wide) == 1  # they do share shingles and are within 60
    tight = edit_distance_pairs(df, max_dist=3, k=2).collect()
    assert tight == []  # same candidates, bounded DP rejects


def test_pack_sequences_partitions_stream_without_gaps(spark):
    """Property: within each source, doc spans tile the token stream —
    consecutive docs abut exactly and the stream starts at 0."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.curation import (
        pack_training_sequences,
    )

    docs = load_table(spark, SF_DIR, "documents")
    spans = pack_training_sequences(docs, seq_len=256).toPandas()
    for src, g in spans.groupby("source"):
        g = g.sort_values("doc_id")
        assert g.iloc[0].token_start == 0
        ends = g.token_end.to_numpy()[:-1]
        starts = g.token_start.to_numpy()[1:]
        assert (ends == starts).all()
        assert (g.n_tokens > 0).all()
        assert ((g.token_end - g.token_start) == g.n_tokens).all()


def test_quantile_sketch_report_toy_exact_ranks(spark):
    # 1..1000 in one key: p50 element's rank interval must straddle 500
    # and the audit must accept it at any reasonable accuracy.
    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import (
        quantile_sketch_report,
    )

    df = spark.range(1, 1001).selectExpr("'k' as k", "cast(id as double) v")
    rows = {
        round(r.pct, 2): r
        for r in quantile_sketch_report(
            df, "k", "v", percentiles=(0.5, 0.99), accuracy=10000
        ).collect()
    }
    p50 = rows[0.5]
    assert p50.min_rank == p50.max_rank == int(p50.approx_val)
    assert p50.rank_lo <= p50.min_rank <= p50.rank_hi
    assert not p50.violation and not rows[0.99].violation


def test_quantile_sketch_violations_zero(spark, duck):
    assert_matches_oracle(
        queries()["quantile_sketch_violations"](spark, SF_DIR),
        duck,
        oracles()["quantile_sketch_violations"],
    )


def test_event_funnel_toy_ordering_and_strictness(spark):
    import datetime as dt

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.sessionize import (
        event_funnel,
    )

    T = lambda s: dt.datetime.fromisoformat(f"2024-01-01 00:00:{s:02d}")
    df = spark.createDataFrame(
        [
            # u1: full progression, with a decoy purchase BEFORE click
            (1, T(1), "view"), (1, T(2), "purchase"), (1, T(3), "click"),
            (1, T(4), "purchase"),
            # u2: click at the SAME instant as view — strictness blocks it
            (2, T(5), "view"), (2, T(5), "click"),
            # u3: click only, no view: not in the funnel at all
            (3, T(1), "click"), (3, T(2), "purchase"),
        ],
        "user_id long, ts timestamp, event_type string",
    )
    rows = {
        r.user_id: r
        for r in event_funnel(df, ("view", "click", "purchase")).collect()
    }
    assert set(rows) == {1, 2}
    assert rows[1].stage_reached == 3
    assert (rows[1].view_ts, rows[1].click_ts, rows[1].purchase_ts) == (
        T(1), T(3), T(4),
    )  # the T(2) purchase decoy is skipped; the post-click one counts
    assert rows[2].stage_reached == 1 and rows[2].click_ts is None


def test_event_funnel_rejects_bad_steps(spark):
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.sessionize import (
        event_funnel,
    )

    df = spark.createDataFrame([(1, None, "x")], "user_id long, ts timestamp, event_type string")
    with pytest.raises(ValueError, match="at least 2"):
        event_funnel(df, ("view",))
    with pytest.raises(ValueError, match="distinct"):
        event_funnel(df, ("view", "view"))


def test_event_funnel_matches_oracle(spark, duck):
    assert_matches_oracle(
        queries()["event_funnel_users"](spark, SF_DIR),
        duck,
        oracles()["event_funnel_users"],
    )


def test_sole_late_supplier_matches_oracle(spark, duck):
    assert_matches_oracle(
        queries()["sole_late_supplier"](spark, SF_DIR),
        duck,
        oracles()["sole_late_supplier"],
    )


def test_cohort_retention_toy(spark):
    import datetime as dt

    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import (
        cohort_retention,
    )

    # Mondays: 2024-01-01, -08, -15
    T = lambda d, h=0: dt.datetime.fromisoformat(f"2024-01-{d:02d} {h:02d}:00:00")
    df = spark.createDataFrame(
        [
            (1, T(1), "signup"),   # cohort week 0 (Jan 1)
            (1, T(3), "click"),    # same week: offset 0 (deduped w/ signup)
            (1, T(16), "view"),    # week of Jan 15: offset 2
            (2, T(9), "signup"),   # cohort week Jan 8
            (2, T(2), "click"),    # PRE-signup activity: excluded
            (3, T(5), "view"),     # never signed up: not in any cohort
        ],
        "user_id long, ts timestamp, event_type string",
    )
    got = {
        (r.cohort_week.date().isoformat(), r.week_offset): r.n_active
        for r in cohort_retention(df).collect()
    }
    assert got == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_cohort_retention_matches_oracle(spark, duck):
    assert_matches_oracle(
        queries()["cohort_retention_weekly"](spark, SF_DIR),
        duck,
        oracles()["cohort_retention_weekly"],
    )


def test_event_funnel_single_exchange(spark):
    # the funnel is ONE hash aggregate: exactly one shuffle on the user
    # key, the sort + fold run inside the aggregate's projection.
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.sessionize import (
        event_funnel,
    )

    df = load_table(spark, SF_DIR, "events")
    plan = (
        event_funnel(df, ("view", "click", "purchase"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_new_tpch_shapes_join_strategies(spark):
    # bi_nation: two pre-pruned broadcast legs, no nested loop, one
    # hash exchange (the final 3-key groupBy). part_supplier: the
    # NOT-IN exclusion must plan as a BROADCAST anti-join.
    plan_bi = (
        queries()["bi_nation_trade_volume"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan_bi
    assert plan_bi.count("Exchange hashpartitioning") == 1

    plan_ps = (
        queries()["part_supplier_diversity"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan_ps
    assert "LeftAnti, BuildRight" in plan_ps  # broadcast anti-join


def test_global_row_number_matches_window(spark, monkeypatch):
    """global_row_number under a scrambled multi-partition input must
    equal the single-partition row_number window (the semantics oracle),
    and the persisted numbering must be stable across re-reads."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import (
        SMALL_ROWS,
        global_row_number,
    )

    df = (
        spark.range(0, 1000)
        .select((F.col("id") * 2654435761 % 1013).alias("key"), "id")
        .repartition(7)
    )
    got = {
        (r.key, r.id): r.rn
        for r in global_row_number(df, ["key", "id"], num_partitions=5).collect()
    }
    want = {
        (r.key, r.id): r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("key", "id"))
        ).collect()
    }
    assert got == want
    # both branches of the size gate must agree with the oracle: the
    # default above routed 1000 rows to the Coalesce(1) JVM branch; a
    # zero bound forces the range-shuffle scaffold
    monkeypatch.setitem(SMALL_ROWS, "global_row_number", 0)
    got_scaffold = {
        (r.key, r.id): r.rn
        for r in global_row_number(df, ["key", "id"], num_partitions=5).collect()
    }
    assert got_scaffold == want


def test_hbos_flags_sparse_bin_rows(spark):
    """99 clustered rows + 1 far outlier: the outlier occupies a
    singleton bin in both features -> top HBOS score by construction."""
    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import hbos_scores

    rows = [(i, 10.0 + (i % 10) * 0.1, 5.0 + (i % 3)) for i in range(99)]
    rows.append((999, 1000.0, 50.0))
    df = spark.createDataFrame(rows, "id long, f1 double, f2 double")
    top = hbos_scores(df, ["f1", "f2"], "id", bins=16, k=3).collect()
    assert top[0].id == 999
    assert top[0].hbos_micro > top[1].hbos_micro
    # singleton bins in both features: score = 2 * ln(100/1)
    import math

    assert top[0].hbos_micro == 2 * round(1e6 * math.log(100.0))


def test_ndcg_eval_perfect_and_reversed(spark):
    """NDCG is 1 for the truth ranking itself and strictly below 1 for
    a reversed candidate list."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        ndcg_eval,
    )

    truth = spark.createDataFrame(
        [(i, i) for i in range(1, 6)], "vec_id long, rk int"
    )
    rev = spark.createDataFrame(
        [(i, 6 - i) for i in range(1, 6)], "vec_id long, rk int"
    )
    perfect = ndcg_eval(truth, truth, k=5).collect()[0]
    assert perfect.ndcg_r6 == 1.0
    worse = ndcg_eval(rev, truth, k=5).collect()[0]
    assert worse.ndcg_r6 < 1.0
    assert worse.dcg_micro < worse.idcg_micro


def test_global_cumsum_matches_window(spark, monkeypatch):
    """global_cumsum under a scrambled multi-partition input equals the
    single-partition SUM() OVER (ORDER BY) window on every row."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import (
        SMALL_ROWS,
        global_cumsum,
    )

    df = (
        spark.range(0, 500)
        .select(
            (F.col("id") * 2654435761 % 997).alias("key"),
            (F.col("id") % 7 + 1).alias("x"),
            (F.col("id") % 3).alias("y"),
        )
        .repartition(6)
    )
    got = {
        (r.key): (r.cum_x, r.cum_y)
        for r in global_cumsum(df, ["key"], ["x", "y"], num_partitions=5).collect()
    }
    w = Window.orderBy("key").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        (r.key): (r.cum_x, r.cum_y)
        for r in df.select(
            "key",
            F.sum("x").over(w).alias("cum_x"),
            F.sum("y").over(w).alias("cum_y"),
        ).collect()
    }
    assert got == want
    # both branches of the size gate must agree with the oracle
    # (default above = arrow single-partition branch; 0 = scaffold)
    monkeypatch.setitem(SMALL_ROWS, "global_cumsum", 0)
    got_scaffold = {
        (r.key): (r.cum_x, r.cum_y)
        for r in global_cumsum(df, ["key"], ["x", "y"], num_partitions=5).collect()
    }
    assert got_scaffold == want


def test_ks_two_sample_identical_and_disjoint(spark):
    """KS D = 0 when both samples are identical; D = 1 (d_num =
    n_a*n_b) when their supports are disjoint; a hand-checkable
    midpoint case matches scipy-style manual ECDF arithmetic."""
    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import (
        ks_two_sample,
    )

    a = spark.createDataFrame([(float(i % 10),) for i in range(100)], "v double")
    same = ks_two_sample(a, a, "v").collect()[0]
    assert same.d_num == 0 and same.d_stat == 0.0

    b = spark.createDataFrame([(float(100 + i),) for i in range(50)], "v double")
    disj = ks_two_sample(a, b, "v").collect()[0]
    assert disj.d_num == disj.n_a * disj.n_b and disj.d_stat == 1.0

    # a = {1,2,3,4}, b = {3,4,5,6}: D = 1/2 at v=2 (F_a=1/2, F_b=0)
    x = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "v double")
    y = spark.createDataFrame([(3.0,), (4.0,), (5.0,), (6.0,)], "v double")
    mid = ks_two_sample(x, y, "v").collect()[0]
    assert mid.d_num == 8 and mid.d_stat == 0.5


def test_ks_two_sample_no_unpartitioned_window(spark):
    """The cumulative ECDF must come from the range-shuffle
    global_cumsum: the KS plan contains NO Window operator (the
    single-partition ``SUM() OVER (ORDER BY)`` anti-pattern) and DOES
    contain the rangepartitioning exchange. (SinglePartition exchanges
    remain for the final one-ROW aggregate combine — that reducer sees
    <= num_partitions partial rows, not the data.)"""
    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import (
        ks_two_sample,
    )

    a = spark.range(0, 200).selectExpr("cast(id % 13 as double) as v")
    b = spark.range(0, 150).selectExpr("cast(id % 17 as double) as v")
    plan = ks_two_sample(a, b, "v")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # r9 size gate: tiny distinct-value tables take the explicit
    # Coalesce(1) arrow branch; above the gate the scaffold's range
    # shuffle appears (asserted below on the operator directly)
    assert "Coalesce 1" in plan or "rangepartitioning" in plan


def test_global_cumsum_scaffold_above_gate_uses_range_shuffle(
    spark, monkeypatch
):
    """Above the size gate, global_cumsum must keep the
    range-shuffle scaffold: no Window operator, rangepartitioning
    present — the 100 TB contract for above-gate inputs."""
    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import (
        SMALL_ROWS,
        global_cumsum,
    )

    df = spark.range(0, 300).selectExpr(
        "cast(id as double) as v", "id % 7 + 1 as c"
    )
    monkeypatch.setitem(SMALL_ROWS, "global_cumsum", 0)
    out = global_cumsum(df, ["v"], ["c"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # the scaffold signature: the numbered stream is a pinned RDD scan
    # broadcast-joined to the driver-folded offsets (the range shuffle
    # itself lives inside the checkpointed lineage, invisible to the
    # SQL plan); the small branch's Coalesce(1) must NOT appear
    assert "Coalesce 1" not in plan
    assert "BroadcastHashJoin" in plan and "ExistingRDD" in plan


def test_mann_whitney_hand_case_and_symmetry(spark):
    """Hand-checked ranks with ties: a={1,2,2}, b={2,3} pooled ranks
    are 1, 3, 3, 3, 5 (midranks), R_a = 7, U_a = R_a - 3*4/2 = 1, so
    u2_a = 2. Identical samples give z = 0. And U_a + U_b = n_a*n_b
    (antisymmetry) on a scrambled larger input."""
    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import (
        mann_whitney_u,
    )

    a = spark.createDataFrame([(1.0,), (2.0,), (2.0,)], "v double")
    b = spark.createDataFrame([(2.0,), (3.0,)], "v double")
    r = mann_whitney_u(a, b, "v").collect()[0]
    assert (r.n_a, r.n_b, r.u2_a) == (3, 2, 2)

    same = spark.createDataFrame([(float(i % 5),) for i in range(40)], "v double")
    rs = mann_whitney_u(same, same, "v").collect()[0]
    assert rs.u2_a == rs.n_a * rs.n_b and rs.z == 0.0

    x = spark.range(0, 300).selectExpr("cast(id * 37 % 101 as double) as v")
    y = spark.range(0, 200).selectExpr("cast(id * 53 % 97 + 2 as double) as v")
    fwd = mann_whitney_u(x, y, "v").collect()[0]
    rev = mann_whitney_u(y, x, "v").collect()[0]
    assert fwd.u2_a + rev.u2_a == 2 * fwd.n_a * fwd.n_b
    assert abs(fwd.z + rev.z) < 1e-9


def test_mann_whitney_detects_shift_direction(spark):
    """A clearly right-shifted sample b must give a strongly negative
    z for a (a systematically smaller)."""
    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import (
        mann_whitney_u,
    )

    a = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    b = spark.createDataFrame([(float(i + 200),) for i in range(100)], "v double")
    r = mann_whitney_u(a, b, "v").collect()[0]
    assert r.u2_a == 0 and r.z < -10


def test_theil_sen_ignores_outliers_on_known_line(spark):
    """y = 3x + 7 with two wild outliers: the median slope/intercept
    recover the clean line exactly (1e-9 fixed point), where an OLS fit
    would be dragged."""
    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import theil_sen

    pts = [(float(x), 3.0 * x + 7.0) for x in range(30)]
    pts[5] = (5.0, 500.0)
    pts[20] = (20.0, -400.0)
    df = spark.createDataFrame(pts, "x double, y double")
    r = theil_sen(df, "x", "y").collect()[0]
    assert r.n_points == 30 and r.n_pairs == 30 * 29 // 2
    assert r.slope_q == 3_000_000_000  # exactly 3 in 1e-9 units
    assert r.intercept_q == 7_000_000_000


def test_theil_sen_above_rank_bound_matches_one_task_branch(spark, monkeypatch):
    """Above ``SMALL_ROWS["theil_sen"]`` both medians come from the
    range-shuffle row-number scaffold instead of the one-task sort; the
    output row must be identical — on the outlier line and on a series
    with tied x (no pair), tied slopes and an even pair count."""
    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import (
        SMALL_ROWS,
        theil_sen,
    )

    line = [(float(x), 3.0 * x + 7.0) for x in range(30)]
    line[5] = (5.0, 500.0)
    line[20] = (20.0, -400.0)
    noisy = [
        (float(i % 13), float(i * 7919 % 101) + 0.25 * (i % 3)) for i in range(38)
    ]
    frames = [
        spark.createDataFrame(pts, "x double, y double") for pts in (line, noisy)
    ]
    one_task = [theil_sen(df, "x", "y").collect() for df in frames]
    monkeypatch.setitem(SMALL_ROWS, "theil_sen", 0)
    scaffold = [theil_sen(df, "x", "y").collect() for df in frames]
    assert scaffold == one_task
    assert one_task[1][0].n_pairs % 2 == 0


def test_spearman_known_values_and_tie_invariance(spark):
    """Perfect monotone (nonlinear) association gives rho = 1 exactly;
    reversing one column gives -1; Spearman sees through a monotone
    transform that drags Pearson below 1; midrank ties reproduce the
    scipy-convention value on a hand-checked tied sample."""
    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import (
        spearman_corr,
    )

    mono = spark.createDataFrame(
        [(float(i), float(i ** 3)) for i in range(1, 40)], "x double, y double"
    )
    assert spearman_corr(mono, "x", "y").collect()[0].rho == 1.0
    anti = spark.createDataFrame(
        [(float(i), float(-i) ** 3) for i in range(1, 40)], "x double, y double"
    )
    assert spearman_corr(anti, "x", "y").collect()[0].rho == -1.0

    # hand case with ties: x = 1,2,2,3  y = 10,20,20,30
    # doubled midranks x: 2,5,5,8  y: 2,5,5,8 -> rho = 1
    tied = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (2.0, 20.0), (3.0, 30.0)],
        "x double, y double",
    )
    assert spearman_corr(tied, "x", "y").collect()[0].rho == 1.0

    # x = 1,2,2,3 vs y = 30,20,20,10 -> perfect inverse with ties
    tied_inv = spark.createDataFrame(
        [(1.0, 30.0), (2.0, 20.0), (2.0, 20.0), (3.0, 10.0)],
        "x double, y double",
    )
    assert spearman_corr(tied_inv, "x", "y").collect()[0].rho == -1.0


def test_ks_by_group_matches_global_per_group(spark):
    """Each group's D from ks_by_group equals ks_two_sample run on that
    group alone — the monitoring table is exactly the global statistic
    at group grain."""
    from pyspark.sql import functions as F

    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import (
        ks_by_group,
        ks_two_sample,
    )

    a = spark.createDataFrame(
        [(i % 3, float(i * 7 % 23)) for i in range(150)], "g int, v double"
    )
    b = spark.createDataFrame(
        [(i % 3, float(i * 11 % 29) + (i % 3)) for i in range(120)],
        "g int, v double",
    )
    grouped = {
        r.g: (r.n_a, r.n_b, r.d_num, r.d_stat)
        for r in ks_by_group(a, b, "v", ["g"]).collect()
    }
    for g in (0, 1, 2):
        solo = ks_two_sample(
            a.filter(F.col("g") == g), b.filter(F.col("g") == g), "v"
        ).collect()[0]
        assert grouped[g] == (solo.n_a, solo.n_b, solo.d_num, solo.d_stat)
