"""Physical-plan regression tests — the scale properties that make these
queries viable at 100 TB must be visible in the executed plan, not
assumed: filter pushdown into the parquet scan, broadcast joins for
dims, partial top-k instead of global sort, single-scan DQ."""

from dea05_e2e_kafka_streaming_pipeline_spark import queries as registry

from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = registry.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushes_filter_to_scan(spark):
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read unused wide columns
    assert "l_comment" not in plan
    assert "HashAggregate" in plan


def test_daily_sales_broadcasts_dimension(spark):
    plan = _plan(spark, "daily_sales_by_region")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_revenue_by_geo_all_dims_broadcast(spark):
    plan = _plan(spark, "revenue_by_geo")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_shipping_priority_pushdown_broadcast_topk(spark):
    """TPC-H Q3 shape: date predicates must reach both fact scans, the
    segment-filtered customer dim must broadcast, and the top-10 must be
    TakeOrdered (partial per-partition top-k), not a global sort."""
    plan = _plan(spark, "shipping_priority_topk")
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_returned_revenue_broadcast_dims(spark):
    """customer and nation dims must broadcast (AQE may additionally
    broadcast the date-filtered orders side at small SF — also fine);
    the return-flag filter must reach the lineitem scan."""
    plan = _plan(spark, "returned_revenue_customers")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "TakeOrderedAndProject" in plan


def test_interval_join_no_nested_loop(spark):
    """The bucketed interval-join rewrite must plan as an equi-join on
    the bucket id — never the O(n·m) BroadcastNestedLoopJoin a raw
    BETWEEN condition produces."""
    plan = _plan(spark, "events_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cosine_topk_partial_topk_no_global_sort(spark):
    plan = _plan(spark, "embedding_cosine_topk")
    assert "TakeOrderedAndProject" in plan
    # no full exchange of embeddings for a sort
    assert "rangepartitioning" not in plan.lower()


def test_dq_report_single_scan(spark):
    plan = _plan(spark, "dq_orders_report")
    assert plan.count("orders.parquet") == 1


def test_cdc_decode_is_scan_side_projection(spark):
    """CDC flatten+decode must stay a projection over the scan — no
    shuffle, no aggregate."""
    plan = _plan(spark, "cdc_orders_decode")
    assert "Exchange" not in plan
    assert "HashAggregate" not in plan


def test_ivf_pruned_scan_prunes_partitions(spark):
    """The IVF index layout must turn the probe into partition pruning:
    the scan's PartitionFilters restrict ivf_cell, and the number of
    scanned partition directories is the probe count, strictly below the
    total cell count."""
    import glob

    from dea05_e2e_kafka_streaming_pipeline_spark.queries import _ivf_index_path

    df = registry.queries()["ivf_topk_pruned"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cell" in plan
    cells_on_disk = len(glob.glob(_ivf_index_path(SF_DIR) + "/ivf_cell=*"))
    assert cells_on_disk == 8
    # the filter keeps 2 probed cells; the other 6 are pruned at planning
    assert "ivf_cell#" in plan and " IN (" in plan
    df.collect()
    # post-execution scan metric: files read < files on disk
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    n_files = sum(
        s.metrics().apply("numFiles").value()
        for s in scans
        if s.nodeName().startswith("Scan parquet")
        or "FileScan" in s.nodeName()
        or s.nodeName().startswith("BatchScan")
    )
    total_files = len(glob.glob(_ivf_index_path(SF_DIR) + "/ivf_cell=*/*.parquet"))
    assert 0 < n_files < total_files, (n_files, total_files)


def test_ivf_pruned_matches_unpartitioned_pipeline(spark):
    """Reading through the partitioned layout must not change results:
    pruned top-k == on-the-fly ivf_topk at the same centroids/nprobe."""
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        ivf_topk,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.queries import (
        _ivf_centroids,
        _query_vec,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    pruned = registry.queries()["ivf_topk_pruned"](spark, SF_DIR).collect()
    cents = [list(c) for c in _ivf_centroids(SF_DIR, 8)]
    fly = ivf_topk(
        load_table(spark, SF_DIR, "embeddings"),
        list(_query_vec(SF_DIR)),
        k=20,
        centroids=cents,
        nprobe=2,
    ).collect()
    assert [(r.vec_id, r.score) for r in pruned] == [
        (r.vec_id, r.score) for r in fly
    ]


# Queries whose BUILD legitimately runs Spark jobs: iterative algorithms
# (connected components executes its convergence loop when the pipeline
# is constructed) and index builders (the IVF-pruned query materializes
# the cell-partitioned layout on first use).
_EAGER_BUILD_OK = {
    # k-core peels to a fixpoint: per-round convergence counts are
    # driver actions by design (connected_components loop discipline)
    "kcore_parts_graph",
    "dedup_cc_components",
    "dedup_cluster_sizes",
    "ivf_topk_pruned",
    # runs connected_components' convergence loop at build, like
    # dedup_cc_components — the quality-representative variant
    "dedup_best_quality_docs",
    # semantic dedup closes its pair graph with the same CC loop
    "semantic_dedup_label",
    "semantic_dedup_kmeans",
    "semantic_dedup_violations",
    # BPE training is an inherently sequential merge chain: each round's
    # argmax is a driver action by design (the corpus itself is read
    # once; rounds iterate on the checkpointed word-frequency table)
    "bpe_merges_docs",
    "bpe_token_counts_docs",
    # zipWithIndex semantics: the per-partition count pass is a driver
    # action by construction (see global_row_number docstring)
    "documents_global_rownum",
    "customer_pareto_deciles",
    # materializes the snapshot-log table (commit + merge) at build,
    # like the BPE/IVF trained state
    "orders_snapshot_timetravel",
    # closes the linkage match graph with the same CC loop as
    # dedup_cc_components (auto union-find edge gate = a count action)
    "entity_resolution_customers",
    # DBSCAN's cluster step is the same auto-gated CC closure
    "dbscan_embeddings",
    # global_row_number's per-partition count pass, as above
    "perplexity_buckets_docs",
    # MMR's greedy argmax chain collects the bounded candidate tables
    # at build (the BPE-merge-chain precedent)
    "mmr_rerank_embeddings",
    # global_cumsum shares global_row_number's per-partition count
    # pass (broadcast prefix offsets are a driver action by design)
    "ks_price_drift",
    "mannwhitney_price_shift",
    "ranking_auc_int8",
    # epoch_shuffle stamps positions with global_row_number, as above
    "epoch_shuffle_docs",
    # Theil-Sen's two rank-median passes are driver actions by design
    # (count + value-at-rank fetch, the MMR/BPE collected-scalar
    # precedent)
    "theil_sen_revenue_trend",
    # Spearman's two midrank tables ride global_cumsum, as above
    "spearman_price_quantity",
    # the SNB rank comes from global_row_number (per-partition count
    # pass), and the ER variant adds the CC-closure loop
    "linkage_snb_pairs",
    "entity_resolution_snb",
    # recall audits compare COUNTS of two pair pipelines at build by
    # design (zero-row contract queries, bench=False where quadratic)
    "near_dup_cells_recall_violations",
    "near_dup_multiprobe_recall_violations",
    "near_dup_planted_recall_violations",
    # same by-design count comparison as its three siblings above; the
    # two-level trainer additionally fits the coarse quantizer at build
    "near_dup_hier_recall_violations",
    # exact ntile arithmetic rides global_row_number's per-partition
    # count pass (round-6: replaced the corpus-sized unpartitioned
    # ntile window)
    "customer_spend_quartiles",
    # greedy farthest-point traversal: k−1 TakeOrdered argmax passes
    # are driver actions by design (the BPE/MMR greedy-chain precedent)
    "kcenter_coreset_embeddings",
    # same CC closure as dbscan_embeddings, cell-blocked
    "dbscan_cells_embeddings",
    # r8 optimization: multiply-referenced state tables are pinned with
    # lazy localCheckpoints (buffer state/delta/trim in retractable
    # min-max; the KMV sketch and distinct-shingle tables) — under AQE,
    # planning the checkpoint RDD materializes its upstream shuffle
    # stages, which surfaces as jobs at build. The alternative was
    # re-deriving the expensive subtree per reference (the un-pinned
    # min-max step planned 564 parquet scans). PageRank is NOT here:
    # its pins measured 4.7x slower than exchange reuse and were
    # reverted (operators/graph.py).
    "retractable_minmax_sales",
    "kmv_user_overlap",
    "kmv_source_shingle_overlap",
}


def test_registry_plan_build_runs_no_jobs(spark):
    """Building every registry DataFrame must be pure plan construction:
    zero Spark jobs (round-2 verdict next-round item #3 — the `.head()`
    vector probes and `rdd.getNumPartitions` calls each ran a blocking
    driver job per build)."""
    def n_jobs() -> int:
        # DAGScheduler's monotone job counter: moves iff a job was submitted
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    for name, fn in registry.queries().items():
        if name in _EAGER_BUILD_OK:
            continue
        before = n_jobs()
        fn(spark, SF_DIR)
        after = n_jobs()
        assert after == before, (
            f"{name}: building the DataFrame ran {after - before} Spark job(s)"
        )


def test_global_rownum_avoids_single_partition_exchange(spark):
    """The numbering plan's widest exchange must be a RANGE shuffle —
    never the Exchange SinglePartition a naive global row_number window
    plans (the one-task-sorts-the-world anti-pattern)."""
    plan = _plan(spark, "documents_global_rownum")
    # r9 size-adaptive numbering: at test SF the gate routes the tiny
    # doc_id table to the explicit Coalesce(1) JVM branch; above the
    # gate the range-partitioned scaffold appears (asserted on the
    # operator directly in test_analytics_ext.py)
    assert "Coalesce 1" in plan or "rangepartitioning(doc_id" in plan
    # no Window operator anywhere: numbering is never a global-sort
    # window. (A SinglePartition exchange DOES appear — carrying the
    # one-row count(*) scalar for the bucket arithmetic, not data.)
    assert "Window" not in plan


def test_priority_waiting_semi_join_with_pushdown(spark):
    """Q4 shape: the EXISTS must plan as a semi join (no materialized
    multi-match) and the quarter window must reach the orders scan."""
    plan = _plan(spark, "priority_waiting_orders")
    assert "LeftSemi" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_product_type_profit_broadcast_dims(spark):
    """Q9 shape: the name-filtered part map and supplier→nation map must
    both broadcast; the only shuffle join fetches the order year."""
    plan = _plan(spark, "product_type_profit")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_top_supplier_no_window_broadcast_max(spark):
    """Q15 shape: the max-selection is the scalar-subquery form — a
    1-row max aggregate broadcast back as a filter over the
    per-supplier aggregate. NO Window node anywhere (the previous
    rank()-over-empty-partition form moved the whole supplier aggregate
    to a single partition; this one never does, at any |suppliers|)."""
    plan = _plan(spark, "top_supplier_revenue")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "HashAggregate" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_customer_order_distribution_outer_join_preserved(spark):
    """Q13 shape: the status filter must sit below the LEFT OUTER join
    (filtering the orders side), never above it (which would drop
    zero-order customers)."""
    plan = _plan(spark, "customer_order_distribution")
    assert "LeftOuter" in plan or "RightOuter" in plan
    assert "Not(EqualTo(o_orderstatus,P))" in plan  # pushed to orders scan


def test_forecast_revenue_all_predicates_pushed(spark):
    """Q6 shape: all four predicates reach the parquet scan and only the
    2 projected columns (+ filter columns) are read — the query must be
    I/O-bound on a pruned scan, with a 1-row partial+final aggregate.

    Uses the formatted explain — the simple plan string truncates long
    PushedFilters lists."""
    df = registry.queries()["forecast_revenue"](spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24",
    ):
        assert frag in pushed, f"{frag} not pushed: {pushed}"
    # pruned read schema: no unrelated wide columns
    scan = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_returnflag" not in scan and "l_partkey" not in scan
    assert "HashAggregate" in plan


def test_important_part_single_fact_scan(spark):
    """Q11 shape: the brand-filtered part dim broadcasts, the grand
    total lands as a broadcast (nested-loop on a 1-row side is fine),
    and the FACT table is scanned exactly once."""
    plan = _plan(spark, "important_part_value")
    assert "BroadcastHashJoin" in plan
    assert plan.count("lineitem.parquet") <= 2  # scan + possible reuse ref
    assert "EqualTo(p_brand,Brand#1)" in plan
    # after execution, AQE's final plan must REUSE the per-part
    # aggregate exchange for the grand total (one physical fact scan)
    df = registry.queries()["important_part_value"](spark, SF_DIR)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final


def test_excess_shipments_window_reuses_pair_exchange(spark):
    """Q20 shape: one aggregate at (supp, part) grain; the partkey
    window must not add a second fact scan, and the type-filtered part
    dim broadcasts into it."""
    plan = _plan(spark, "excess_shipment_suppliers")
    assert "StringStartsWith(p_type,PROMO)" in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan


def test_target_encoding_broadcasts_group_stats(spark):
    """LOO target encoding must come from a grouped-agg + broadcast
    join back onto the fact rows — never a full-table window (whose
    partition size would be the group size at 100 TB)."""
    plan = _plan(spark, "target_encoding_priority")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "partial_sum" in plan


def test_gdpr_erasure_semi_join_cascade(spark):
    """The erasure cascade must be left-semi joins with the (small)
    subject/order key sets on the build side — the fact tables never
    shuffle."""
    plan = _plan(spark, "gdpr_erasure_audit")
    assert plan.count("LeftSemi") >= 3
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_duplicate_spans_partial_aggregation(spark):
    """Span mining must partial-aggregate map-side so the shuffle
    carries (span, partial counts), not one record per occurrence."""
    plan = _plan(spark, "duplicate_spans_docs")
    assert "partial_count" in plan


def test_key_skew_report_partial_topk(spark):
    plan = _plan(spark, "key_skew_report")
    assert "TakeOrderedAndProject" in plan


def test_label_centroid_partial_sums(spark):
    """Centroids reduce at (label, dim) grain with map-side combine;
    the exchange carries longs, not embedding arrays."""
    plan = _plan(spark, "label_centroid_embeddings")
    assert "partial_sum" in plan
    assert "TakeOrderedAndProject" not in plan


def test_rrf_arms_are_partial_topk(spark):
    """Both retrieval arms of the hybrid fusion must be bounded
    TakeOrdered candidate lists before the fusion window runs."""
    plan = _plan(spark, "rrf_hybrid_topk_docs")
    assert plan.count("TakeOrderedAndProject") >= 2


def test_aes_sample_is_partial_topk(spark):
    """A-ES sampling must plan as TakeOrdered (per-partition partial
    top-k) — never a global sort of the keyed corpus."""
    plan = _plan(spark, "aes_weighted_sample_docs")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_link_prediction_no_cartesian(spark):
    """The wedge join is an equi-join on the pivot; nothing in the plan
    may degenerate to a nested-loop/cartesian pair space."""
    plan = _plan(spark, "link_prediction_parts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_dbscan_shuffles_ids_not_vectors(spark):
    """After pair scoring, DBSCAN's exchanges must carry id/degree
    columns only — the embedding column may never appear in a shuffle
    above the pair-scoring join."""
    df = registry.queries()["dbscan_embeddings"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # hash exchanges exist (degree agg, CC, border join) ...
    assert "Exchange hashpartitioning" in plan
    # ... but none of them partitions by or carries the raw vector
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "embedding" not in line, line


def test_dsir_model_join_broadcasts_no_sortmerge(spark):
    """The 1024-bucket DSIR model table must reach the exploded tokens
    as a broadcast, never a sort-merge shuffle of the token stream on
    the bucket key; the only nested-loop is the one-row totals scalar."""
    plan = _plan(spark, "dsir_importance_docs")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # one-row totals


def test_content_chunks_single_reassembly_shuffle(spark):
    """Content-defined chunking: boundary flags are a projection, so
    the plan carries exactly the per-document window shuffle and the
    fingerprint aggregate — no joins, no extra exchanges."""
    plan = _plan(spark, "content_chunks_docs")
    assert plan.count("Exchange") <= 3
    assert "Join" not in plan


def test_bloom_word_table_broadcasts(spark):
    """Probing must broadcast the 256-row Bloom word table — a
    sort-merge join on word_idx would shuffle every probe row for a
    KB-sized build side."""
    plan = _plan(spark, "bloom_customer_membership")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


# Every unpartitioned Window a registered query plans, with why it is
# bounded. WindowExec's no-partition warning is routed out of the bench
# tail (bench.py _quiet_known_warnings), so THIS is the guard that keeps
# a new corpus-sized unbounded window from shipping silently — the exact
# early signal rounds 5-6 used to find superlinear windows.
_BOUNDED_GLOBAL_WINDOWS = {
    # daily/hourly/monthly-grain series: one row per calendar bucket
    # (≤ a few thousand at any SF — time, not data, bounds cardinality)
    "revenue_ewma_daily",
    "cusum_changepoint_daily",
    "revenue_stl_daily",
    "conformal_revenue_intervals",
    "user_acquisition_curve",
    "running_monthly_revenue",
    # contingency tables: |regions| x |priorities| cells
    "chisq_region_priority",
    "mutual_info_region_priority",
    # vocab-rank windows over the aggregated token table (vocab grows
    # ~log with corpus; operators/curation.py documents the bound)
    "dictionary_encode_docs",
    "vocab_coverage_docs",
    "zipf_slope_vocab",
    # rank-over-top-k arms: the window input is already LIMIT k
    "rrf_hybrid_topk_docs",
    "ndcg_int8_ranking",
}


def _top_bracket_groups(s: str) -> list[str]:
    groups, depth, cur = [], 0, ""
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
                continue
        if depth >= 1:
            cur += ch
    return groups


def _unpartitioned_windows(plan: str) -> list[str]:
    """Window physical nodes with an empty partitionSpec. Rendering:
    ``Window [exprs], [part], [order]`` — an empty partition list is
    omitted, so 2 top-level groups where the last carries sort
    directions (ASC/DESC) means the 'part' group is missing."""
    hits = []
    for line in plan.splitlines():
        i = line.find("Window [")
        if i < 0:
            continue
        if i > 0 and (line[i - 1].isalnum() or line[i - 1] == "_"):
            continue  # WindowGroupLimit etc. — only bare Window nodes
        g = _top_bracket_groups(line[i:])
        if len(g) == 1 or (
            len(g) == 2 and (" ASC" in g[-1] or " DESC" in g[-1])
        ):
            hits.append(line.strip()[:160])
    return hits


def test_no_undeclared_unpartitioned_windows(spark):
    """Every unpartitioned (single-partition) Window in any registered
    query's physical plan must be on the documented bounded allowlist —
    a new one means someone planned a global sort-the-world window over
    a data-sized frame."""
    offenders = {}
    for name, fn in registry.queries().items():
        if name in _BOUNDED_GLOBAL_WINDOWS:
            continue
        df = fn(spark, "/root/testdata/sf0.001")
        hits = _unpartitioned_windows(
            df._jdf.queryExecution().executedPlan().toString()
        )
        if hits:
            offenders[name] = hits
    assert not offenders, (
        "unpartitioned Window outside the documented allowlist "
        f"(_BOUNDED_GLOBAL_WINDOWS): {offenders}"
    )
