"""Plan-quality regression tests: the physical plans the 100 TB design
depends on, asserted so they can't silently regress. (`.explain` audits are
a one-off; these run every CI pass.)"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from reddit_sse_stream_spark.plans.catalog import QUERIES
from reddit_sse_stream_spark.sources.tables import load_table


def _plan(spark, sf_dir, name: str) -> str:
    return (
        QUERIES[name]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_range_scan_pushes_id_predicate(spark, sf_dir):
    plan = _plan(spark, sf_dir, "s1_range_scan")
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(event_id,100)" in plan
    assert "LessThanOrEqual(event_id,134)" in plan


def test_q6_pushes_every_predicate(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q6_forecast_revenue")
    for pushed in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({pushed})" in plan


def test_q3_dims_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q5_star_join_no_cartesian_no_sortmerge_on_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q5_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 4  # all dims broadcast
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "limit_topk_events_by_value")
    assert "TakeOrderedAndProject" in plan


def test_knn_topk_uses_take_ordered_and_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "knn_bruteforce_cosine")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_agg_is_partial_plus_final(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q1_pricing_summary")
    # two HashAggregate nodes around one Exchange = map-side partial agg
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_semi_and_anti_joins_planned_as_such(spark, sf_dir):
    assert "LeftSemi" in _plan(spark, sf_dir, "join_semi_customers_with_orders")
    assert "LeftAnti" in _plan(spark, sf_dir, "join_anti_customers_without_orders")


def test_range_join_keeps_equi_key(spark, sf_dir):
    """The time-band join must hash-partition on the user equi-key, not
    degrade to a nested-loop over the whole input."""
    plan = _plan(spark, sf_dir, "join_range_clicks_before_purchase")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sessionize_shares_one_user_shuffle(spark, sf_dir):
    """Both window passes and the final agg run off the same user_id
    hash-partitioning: exactly one shuffle Exchange in the plan."""
    plan = _plan(spark, sf_dir, "sessionize_events")
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 1, plan


def test_window_topk_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "window_topk_orders_per_customer")
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 1


def test_exact_dedup_shuffles_digest_not_text(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_exact_groups")
    # the pre-shuffle projection must be (digest, doc_id) — no text column
    assert "text_hash" in plan
    lines = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert lines and all("text#" not in l for l in lines), lines


def test_bucketed_tables_join_without_shuffle(spark, sf_dir):
    """bucketBy co-location: joining two tables bucketed on the same key
    plans a SortMergeJoin with NO shuffle Exchange — the 100 TB fact-fact
    join strategy. (Uses the session's default warehouse; warehouse dir is
    a static conf.)"""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    # Pre-clean ORPHANED table locations (VERDICT r09 next #7): a run
    # killed between saveAsTable and the finally-DROP leaves the managed
    # LOCATION on disk with no catalog entry, and the NEXT run's
    # saveAsTable fails LOCATION_ALREADY_EXISTS — the DROP below can't
    # help because the catalog no longer knows the table.
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for tbl in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(os.path.join(warehouse, tbl), ignore_errors=True)
    try:
        (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
         .mode("overwrite").saveAsTable("b_orders"))
        (lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
         .mode("overwrite").saveAsTable("b_lineitem"))
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        n = joined.count()
        assert n == lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_q4_semi_join_and_date_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q4_order_priority")
    assert "LeftSemi" in plan
    # pushed to scan (timestamp renders as "1996-01-01 00:00:00.0" for LTZ,
    # "1996-01-01T00:00" for NTZ — accept either)
    assert "GreaterThanOrEqual(o_orderdate,1996-01-01" in plan
    assert "CartesianProduct" not in plan


def test_q19_disjunction_split_and_pushed_to_both_scans(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q19_disjunctive_revenue")
    # Catalyst must extract per-table implications of the OR below the join:
    # the quantity disjunction reaches the lineitem scan, the brand/size
    # disjunction reaches the part scan.
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "Or(Or(And(EqualTo(p_brand" in plan
    assert "BroadcastHashJoin" in plan


def test_q18_aggregates_fact_before_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q18_large_orders")
    assert "LeftSemi" in plan
    # the HAVING>150 subquery aggregates the bare fact (keys=[l_orderkey]
    # only) — dims must not be dragged into that inner groupBy
    assert "HashAggregate(keys=[l_orderkey" in plan


def test_q22_anti_join_with_broadcast_scalar_threshold(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q22_idle_customers")
    assert "LeftAnti" in plan
    assert "IdentityBroadcastMode" in plan  # 1-row threshold broadcast, no shuffle


def test_cosine_lsh_candidates_equi_join_on_bucket(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_embedding_cosine_lsh")
    # Candidate generation must be an equi-join on (tbl, bucket) — never a
    # cartesian/nested-loop over the vectors themselves.
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    ("name", "hinted_dim_broadcasts"),
    [
        ("tpch_q3_shipping_priority", 0),   # no hints at all
        ("tpch_q5_region_revenue", 3),      # supplier, nation, region
        ("tpch_q10_returned_customers", 1), # nation
        ("tpch_q18_large_orders", 0),
        ("tpch_q14_promo_revenue", 0),
        ("tpch_q19_disjunctive_revenue", 0),
    ],
)
def test_no_static_broadcast_hints_on_fact_tables(
    spark, sf_dir, name, hinted_dim_broadcasts
):
    """Fact-scale tables (orders, customer, part) must not carry static
    broadcast hints — at 100 TB a forced broadcast of a 15%-of-lineitem
    table OOMs every executor.  With size-based broadcast disabled, the only
    BroadcastHashJoins left in the initial plan are the explicitly hinted
    true dims; everything else shuffles on key (and AQE may still convert
    at runtime when the filtered side turns out small)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, sf_dir, name)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("BroadcastHashJoin") == hinted_dim_broadcasts, plan


def test_corpus_pipeline_single_wide_exchange(spark, sf_dir):
    """The end-to-end corpus-prep plan must shuffle exactly once (the
    fingerprint dedup window) and carry only narrow columns through it —
    the scan->score->filter stages stay pipelined per-row."""
    plan = _plan(spark, sf_dir, "llm_corpus_prep_pipeline")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan


def test_lateral_topk_decorrelates_to_window(spark, sf_dir):
    """The LATERAL subquery must decorrelate: one customer shuffle with
    WindowGroupLimit (partial per-partition top-k) — not a join/scan per
    outer nation row."""
    plan = _plan(spark, sf_dir, "join_lateral_topk_per_nation")
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_sequence_range_is_generate_not_driver_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "fn_sequence_range")
    assert "Generate explode" in plan
    assert "BatchEvalPython" not in plan


def test_expectation_report_is_single_pass(spark, sf_dir):
    """N rules must evaluate in ONE scan + one aggregate — never a job per
    rule (the 100 TB contract of the expectation gate)."""
    plan = _plan(spark, sf_dir, "dq_expectation_report")
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange") <= 1


def test_funnel_is_two_aggregates_no_self_join(spark, sf_dir):
    """The funnel must be conditional-min aggregation — not the naive
    3-way self-join on user_id."""
    plan = _plan(spark, sf_dir, "funnel_view_click_purchase")
    assert "Join" not in plan
    assert plan.count("FileScan") == 1


def test_anomaly_window_runs_over_preaggregated_counts(spark, sf_dir):
    """The z-score window slides over (type, hour) counts, so the plan
    aggregates BEFORE the window (partial+final agg below the Window)."""
    plan = _plan(spark, sf_dir, "anomaly_zscore_hourly")
    assert "Window" in plan
    assert plan.index("HashAggregate") > plan.index("Window") or plan.count(
        "HashAggregate"
    ) >= 2  # aggregate feeds the window (plan prints top-down)


def _final_plan_after_collect(spark, sf_dir, name: str) -> str:
    """Execute the query, then return only the FINAL (post-AQE) physical
    plan — AdaptiveSparkPlan's toString appends an '== Initial Plan =='
    section that would double-count operators."""
    df = QUERIES[name].spark(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_cosine_lsh_single_kernel_materialization(spark, sf_dir):
    """Pin the r08 vectors-once shape (successor of the r04 double-kernel
    pin): the executed cosine-LSH plan must contain EXACTLY 1 bucketing
    MapInPandas and EXACTLY 1 grouped-map GEMM kernel — candidate pairs
    never materialize as rows, so there is no pair distinct, no
    vector re-join onto pairs, and no scoring MapInPandas.  A second
    MapInPandas means the per-side bucketing re-run (r03, +56%) is back;
    a Window+explode above the GEMM kernel is expected (the hot-bucket
    cell split)."""
    plan = _final_plan_after_collect(spark, sf_dir, "dedup_embedding_cosine_lsh")
    assert plan.count("MapInPandas") == 1
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_lsh_feature_pass_behind_checkpoint(spark, sf_dir):
    """The minhash feature kernel must run ONCE: the shared frame is
    localCheckpoint(eager=False)-materialized, so every downstream consumer
    (banding + both verify sides) scans the checkpointed RDD instead of
    re-running the Arrow pass.  The executed plan therefore shows ZERO
    MapInPandas (the kernel lives inside the checkpointed lineage) and only
    ExistingRDD scans; any MapInPandas reappearing means a consumer was
    rewired to the raw kernel frame (the +27% r03 regression class)."""
    plan = _final_plan_after_collect(spark, sf_dir, "dedup_minhash_lsh")
    assert plan.count("MapInPandas") == 0
    assert plan.count("ExistingRDD") >= 1


def test_vocab_coverage_second_pass_is_broadcast_join(spark, sf_dir):
    """The top-K vocab must re-enter as a BROADCAST hash join against the
    token stream (docstring claim: the second corpus pass is shuffle-free);
    a SortMergeJoin here would shuffle every token occurrence on the term."""
    plan = _plan(spark, sf_dir, "vocab_coverage_topk")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-K vocab, not a global sort
    assert "SortMergeJoin" not in plan


def test_bm25_single_tokenize_pass(spark, sf_dir):
    """bm25_topk must tokenize the corpus EXACTLY ONCE (VERDICT r05 #3: the
    old totals branch re-split every document — the most expensive kernel in
    the query, paid twice).  The per-doc pivot makes the tf consumer and the
    (N, T, df) stats consumer share one byte-identical exchange subtree, so
    the final plan shows one split(lower(text)) + a ReusedExchange feeding
    the stats row, and the top-k is TakeOrderedAndProject."""
    plan = _final_plan_after_collect(spark, sf_dir, "search_bm25_topk")
    assert plan.count("split(lower(") == 1
    assert "ReusedExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_bm25_gain_keeps_fixed_point_scale(spark, sf_dir):
    """Pin the ADVICE r05 high finding: gain = floor(tf*2.2e6/denom) with a
    1e6-scaled denom collapses to {0,1,2}, quantizing TF-saturation and
    length normalization away (a tf=1 doc longer than average scored 0 for
    the term).  With the 1e6 re-scale the three query terms of the catalog
    query must produce strictly more than |{0,1,2}|-coarse score levels and
    every returned doc a positive score."""
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    rows = QUERIES["search_bm25_topk"].spark(spark, sf_dir).collect()
    assert rows and all(r.bm25 > 0 for r in rows)
    # degenerate gain makes scores multiples of idf/1e10 with <= 3 distinct
    # gain values; the healthy fixed point yields ~k distinct scores
    assert len({r.bm25 for r in rows}) > len(rows) // 2


def test_bpe_pairs_explode_runs_over_distinct_terms(spark, sf_dir):
    """The pair explode must sit ABOVE the term aggregate (Zipf collapse:
    |vocab| rows, not every token occurrence) — i.e. the plan has two
    partial+final aggregate pairs (term, then pair) with the Generate for
    the pair explode between them, and the top-50 is TakeOrdered."""
    plan = _plan(spark, sf_dir, "bpe_pair_merge_counts")
    assert "TakeOrderedAndProject" in plan
    gen = plan.index("Generate explode")  # the PAIR explode ...
    agg = plan.rindex("HashAggregate")  # ... reads the term agg's output
    assert agg > gen, "pair explode must consume the term aggregate"


def test_chunk_dup_window_rides_agg_partitioning(spark, sf_dir):
    """chunk_dup_stats claims the chunk_h window reuses the groupBy
    (chunk_h, source) shuffle: the plan must not add a second Exchange
    between the aggregate and the window (hashpartitioning(chunk_h...)
    satisfies the window's chunk_h requirement)."""
    plan = _plan(spark, sf_dir, "text_chunk_dup_rate")
    # exchanges: the explicit chunk_h repartition + the |sources|-row
    # rollup.  Both aggregates and the window must ride the first one —
    # a third exchange means the subset-partitioning reuse broke.
    n_ex = plan.count("Exchange hashpartitioning")
    assert n_ex == 2, f"expected 2 hash exchanges, got {n_ex}"
    assert "Exchange hashpartitioning(chunk_h" in plan


def test_char_entropy_final_agg_rides_window_partitioning(spark, sf_dir):
    """The per-doc total is a doc_id window over the (doc_id, ch)
    aggregate and the final groupBy(doc_id) must reuse that window's
    doc_id exchange: expect exactly 2 hash exchanges ((doc_id, ch) agg,
    doc_id window) — a third means the reuse broke."""
    plan = _plan(spark, sf_dir, "text_char_entropy")
    n_ex = plan.count("Exchange hashpartitioning")
    assert n_ex == 2, f"expected 2 hash exchanges, got {n_ex}"


def test_lateness_profile_single_partition_window_only_on_summary(spark, sf_dir):
    """The two-phase prefix max must keep the ONLY single-partition window
    on the bucket summary: exactly one Exchange SinglePartition, fed by
    the (tiny) bucket aggregate — and the per-bucket window shares the
    bkt shuffle with it."""
    plan = _plan(spark, sf_dir, "stream_lateness_watermark_profile")
    assert plan.count("Exchange SinglePartition") == 1
    assert "BroadcastHashJoin" in plan  # summary re-enters broadcast


def test_bm25_topk_plan_take_ordered_and_broadcast_stats(spark, sf_dir):
    """BM25: the top-k must be TakeOrderedAndProject (never a global
    sort), and the (N, T, df_t) stats row must join as ONE broadcast —
    the fact-side shuffle is the single per-doc pivot exchange (the r06
    shape folded the separate dfq broadcast into the stats row)."""
    plan = _plan(spark, sf_dir, "search_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastExchange") >= 1  # the fused stats row
    assert "SortMergeJoin" not in plan


def test_winnow_plan_single_data_shuffle(spark, sf_dir):
    """Winnowing: gram hashing and window selection are map-side after ONE
    doc_id exchange; the final per-doc agg reuses that partitioning (the
    aggregate keys on the window's partition column), so exactly one
    hashpartitioning exchange on real data may appear plus the final agg's
    — assert the count stays <= 2 and no struct-carrying wide shuffle
    sneaks in."""
    plan = _plan(spark, sf_dir, "text_winnow_fingerprints")
    exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert len(exchanges) <= 2, plan


def test_ohlc_single_exchange_window_feeds_agg(spark, sf_dir):
    """OHLC bars: ONE hour-key exchange serves both the full-frame
    first/last window and the final aggregate (same partitioning), so
    the plan has exactly one hashpartitioning exchange."""
    plan = _plan(spark, sf_dir, "ts_ohlc_hourly")
    assert plan.count("hashpartitioning") == 1, plan
    assert "Window" in plan and "HashAggregate" in plan


def test_scd2_single_exchange_serves_both_windows(spark, sf_dir):
    """SCD2 derivation: the lag window on the raw log and the lead window
    on the collapsed change rows share one user_id partitioning — the
    filter between them preserves distribution, so no second exchange."""
    plan = _plan(spark, sf_dir, "scd2_user_state_history")
    assert plan.count("hashpartitioning") == 1, plan


def test_knn_batch_topk_group_limit_below_exchange(spark, sf_dir):
    """Batched ANN: the per-query top-5 cut must push below the exchange
    as WindowGroupLimit (only ~k rows per query shuffle), and the query
    block must broadcast."""
    plan = _plan(spark, sf_dir, "knn_batch_topk")
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastExchange" in plan


def test_grouped_map_zscore_single_exchange(spark, sf_dir):
    """applyInPandas grouped map: one group-key exchange feeding
    FlatMapGroupsInPandas — the grouped-map plan shape."""
    plan = _plan(spark, sf_dir, "udf_grouped_map_zscore")
    assert "FlatMapGroupsInPandas" in plan, plan
    assert plan.count("hashpartitioning") == 1, plan


def test_regression_exact_partial_final_agg(spark, sf_dir):
    """Exact-moment regression: two HashAggregates around one
    low-cardinality exchange (map-side partial moments)."""
    plan = _plan(spark, sf_dir, "aggx_regression_exact")
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.count("hashpartitioning") == 1, plan


def test_weighted_priority_is_map_only_topk(spark, sf_dir):
    """The ES priority sampler must stay TakeOrderedAndProject over a
    map-only key projection — no Exchange, no global Sort."""
    plan = _plan(spark, sf_dir, "sample_weighted_priority")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_encoding_quality_is_map_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_encoding_quality")
    assert "Exchange" not in plan
    assert "InMemoryTableScan" not in plan


def test_novelty_linear_pipeline_single_scan_two_exchanges(spark, sf_dir):
    """novelty_first_owner must stay the LINEAR window pipeline: ONE
    parquet scan of documents and exactly two data shuffles (the gram-key
    repartition that both the per-doc dedup and the min-owner window
    ride, plus the final doc-keyed count) — the groupBy+join-back
    formulation this replaced re-tokenized the corpus per join side."""
    plan = _plan(spark, sf_dir, "text_novelty_first_owner")
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 2
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_dsir_single_tokenize_via_checkpoint(spark, sf_dir):
    """dsir_weights materializes the compact per-doc term frame ONCE
    (localCheckpoint) and derives stats, totals, and scoring from it —
    no consumer re-scans the corpus."""
    plan = _plan(spark, sf_dir, "corpus_dsir_weights")
    assert "Scan parquet" not in plan  # all branches read the checkpoint
    assert "Scan ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan  # vocab stats broadcast back


def test_semdedup_pairs_join_on_cell_key(spark, sf_dir):
    """SemDeDup's quadratic must be cell-keyed (equi-join on the cell
    id), never a cartesian across cells."""
    plan = _plan(spark, sf_dir, "dedup_semdedup_cells")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_recall_audit_shares_one_qid_exchange(spark, sf_dir):
    """The audit's two rank cuts (ADC order, exact order) partition by the
    same qid key, so the physical plan must pay ONE qid exchange feeding
    both Window operators (the second re-sorts in place), keep the
    partial+final count-agg on top without a third shuffle, and stay
    entirely JVM-side — the one-scan-two-cuts shape the docstring claims."""
    import re

    plan = _plan(spark, sf_dir, "knn_pq_recall_audit")
    assert plan.count("Window") == 2
    # exactly 2 hash exchanges total: the codes pivot (_id) + the qid cut;
    # a third would mean the second window or the agg re-shuffled
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    assert len(re.findall(r"Exchange hashpartitioning\(qid", plan)) == 1
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_pq_assignment_is_literal_hof_not_when_chain(spark, sf_dir):
    """Pin the r07 plan-shrink rewrite: the per-row code assignment must be
    array_min(transform(element_at(<codebook literal>, sub), ...)) — ONE
    fold family over a nested-array literal — not the unrolled
    when(sub == s, ...) chain that duplicated every distance fold through
    16 LEAST branches and cost a flat ~12 s/query in plan compilation."""
    plan = _plan(spark, sf_dir, "embed_pq_codes")
    assert "array_min(transform(element_at(" in plan
    assert "least(" not in plan.lower()


def test_quota_gate_single_keyed_exchange(spark, sf_dir):
    """The quota gate's row_number cut and its summary aggregate share the
    (author, hour) partitioning, so the plan must pay exactly ONE hash
    exchange — a second would mean the aggregate re-shuffled what the
    window already partitioned."""
    import re

    plan = _plan(spark, sf_dir, "quota_admission_per_author")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert plan.count("Window") == 1
    assert "BatchEvalPython" not in plan


def test_gopher_gate_is_map_only(spark, sf_dir):
    """Every Gopher rule is a per-row fold, so the gate must compile to a
    zero-exchange, zero-Python projection over the parquet scan."""
    plan = _plan(spark, sf_dir, "text_gopher_gate")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_semdedup_kernel_ships_vectors_once(spark, sf_dir):
    """Pin the r08 rewrite: SemDeDup scoring must be ONE grouped-map
    kernel fed by the cell exchange (FlatMapGroupsInPandas), with no pair
    self-join re-shuffling |c|^2 wide rows — exactly one exchange carries
    vectors after the quantizer's map-only assignment."""
    plan = _plan(spark, sf_dir, "dedup_semdedup_cells")
    assert "FlatMapGroupsInPandas" in plan
    assert "MapInPandas" not in plan  # the pair-row kernel is gone
    assert "SortMergeJoin" not in plan.split("FlatMapGroupsInPandas")[0]


def test_hard_negatives_kernel_ships_vectors_once(spark, sf_dir):
    """Same pin for hard-negative mining: bucket exchange -> grouped-map
    GEMM kernel; no pair self-join above it, no Window (top-1 happens in
    the kernel), no mirrored union re-scoring."""
    plan = _plan(spark, sf_dir, "embed_hard_negatives")
    assert "FlatMapGroupsInPandas" in plan
    assert "MapInPandas" not in plan
    assert "Window" not in plan
    assert "Union" not in plan


def test_countmin_grid_is_constant_size_exchange(spark, sf_dir):
    """The CMS grid aggregate must partial-aggregate below its exchange
    (map-side combine leaves <= d*w rows per task) and the probe join
    must broadcast — never shuffle the grid against ten probe keys."""
    plan = _plan(spark, sf_dir, "agg_countmin_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan  # map-side combine on the cell grid
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_source_minhash_pairs_are_broadcast(spark, sf_dir):
    """The n_sources x n_sources pair frame must come from a broadcast
    cross of the tiny signature frame, not a shuffled self-join; the only
    hash exchanges are the (source, h) distinct and the source-keyed
    aggregates it feeds."""
    plan = _plan(spark, sf_dir, "dedup_source_minhash_matrix")
    assert "BroadcastNestedLoopJoin" in plan  # the deliberate tiny cross
    assert "BatchEvalPython" not in plan


def test_duplicate_spans_two_exchanges_no_pair_join(spark, sf_dir):
    """Span marking must be a count WINDOW on the gram hash (no gram
    self-join -> no hot-gram quadratic) and the islands agg must reuse
    the doc_id window's clustering: exactly two hash exchanges, two
    Windows, zero joins, zero Python."""
    import re

    plan = _plan(spark, sf_dir, "text_duplicate_spans")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    assert plan.count("Window") == 2
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "InPandas" not in plan


def test_rolling_features_one_exchange_four_frames(spark, sf_dir):
    """All four window frames (two RANGE, the lag, and their sorts) must
    share ONE user_id exchange — re-sorts in place, no re-shuffle — and
    stay entirely JVM-side."""
    import re

    plan = _plan(spark, sf_dir, "ts_rolling_features")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "BatchEvalPython" not in plan and "InPandas" not in plan


def test_r09_map_only_rows_have_zero_exchanges(spark, sf_dir):
    """The r09 zero-shuffle claims, pinned on the executed plans: the
    broadcast-eval GEMM decontam and the MATTR gate are pure map passes —
    any Exchange appearing here means the scale story silently broke."""
    for name in ("decontam_embedding_cosine", "text_mattr_diversity"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("Exchange") == 0, f"{name} gained a shuffle:\n{plan}"


def test_sampled_matrix_audit_filter_reaches_below_the_self_join(spark, sf_dir):
    """dedup_source_minhash_sampled's whole point is that the h-range
    sample shrinks the audit self-join's INPUT: the plan must apply the
    pmod sample predicate on both join branches (filter-then-join), and
    the pair frame must still broadcast."""
    plan = _plan(spark, sf_dir, "dedup_source_minhash_sampled")
    assert plan.count("pmod") >= 2  # sample predicate on both audit sides
    assert "BroadcastExchange" in plan  # sketch pair frame stays broadcast


def test_zipf_log2_prefix_closed_forms(spark):
    """The text_zipf_fit rewrite (VERDICT r11 next #1) rests on two
    closed-form prefix sums over floor(log2 r); pin them against brute
    force for m = 0..512 plus large spot values, evaluated by Spark's
    own SQL engine (the same expressions ship verbatim in the DuckDB
    oracle string)."""
    from reddit_sse_stream_spark.plans.catalog import _S1LOG2, _S2LOG2

    ms = list(range(513)) + [10**6, 10**9, 10**12]
    df = spark.createDataFrame([(m,) for m in ms], "m long").select(
        "m",
        F.expr(_S1LOG2("m")).alias("s1"),
        F.expr(_S2LOG2("m")).alias("s2"),
    )
    got = {r["m"]: (r["s1"], r["s2"]) for r in df.collect()}
    for m in range(513):
        want = (
            sum(r.bit_length() - 1 for r in range(1, m + 1)),
            sum((r.bit_length() - 1) ** 2 for r in range(1, m + 1)),
        )
        assert got[m] == want, (m, got[m], want)
    # closed form at scales brute force can't reach: self-consistency of
    # the two formulas via the bucket identity
    # S(2^k - 1) - S(2^(k-1) - 1) == (k-1) * 2^(k-1)
    # k capped at 50: (m+1)*L in S1 overflows int64 near 2^57 types,
    # ~16M x beyond a 100 TB crawl's type count (~2^33)
    for k in (20, 40, 50):
        a, b = (1 << k) - 1, (1 << (k - 1)) - 1
        df2 = spark.createDataFrame([(a, b)], "a long, b long").select(
            (F.expr(_S1LOG2("a")) - F.expr(_S1LOG2("b"))).alias("d1"),
            (F.expr(_S2LOG2("a")) - F.expr(_S2LOG2("b"))).alias("d2"),
        )
        d1, d2 = df2.collect()[0]
        assert d1 == (k - 1) * (1 << (k - 1))
        assert d2 == (k - 1) ** 2 * (1 << (k - 1))


def test_zipf_fit_no_vocab_sized_window(spark, sf_dir):
    """The r11 weak-plan flag: text_zipf_fit must not materialize a
    per-type rank — the only Window allowed is the cumsum over the
    DISTINCT-FREQUENCY histogram, whose input is dimension-sized. Pin
    that the executed plan has no row_number and that the window's
    child aggregates on f (the histogram), not on w (the vocabulary)."""
    plan = _plan(spark, sf_dir, "text_zipf_fit")
    assert "row_number" not in plan
    assert plan.count("Window") >= 1


def test_equidepth_approx_contract_no_global_sort(spark, sf_dir):
    """The approx equi-depth path's whole reason to exist: NO
    single-partition total-order window and NO global sort of the data
    (the exact twin pays that price; this one must not).  The only Sort
    allowed is the final 8-row orderBy; the bin assignment must be a
    broadcast join."""
    for name in (
        "fn_histogram_equidepth_approx_contract",
        "pack_length_buckets_approx_contract",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "ntile(" not in plan, name  # bare "ntile" hits percentile_approx
        assert "row_number" not in plan, name
        assert "Window" not in plan, name
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, name


def test_mad_outlier_single_data_shaped_exchange(spark, sf_dir):
    """dq_mad_outlier_gate's scale contract: the documents table is
    scanned ONCE (the deviation histogram derives from the value
    histogram, never a rescan) and the only windows run over the
    histogram partitioned by source — no unpartitioned window exists."""
    plan = _plan(spark, sf_dir, "dq_mad_outlier_gate")
    assert "Scan parquet" not in plan  # all branches read the checkpoint
    assert "Scan ExistingRDD" in plan
    assert "No Partition Defined" not in plan


def test_domain_blocklist_no_like_scan_and_domain_exchange_first(spark, sf_dir):
    """feed_domain_suffix_blocklist must never turn the blocklist into
    per-pattern LIKE predicates (the unscalable formulation); matching
    is an equi-join on the exploded suffix, and the explode runs on the
    DIMENSION frame (post-aggregate), visible as the single scan feeding
    a domain aggregate below the generator."""
    plan = _plan(spark, sf_dir, "feed_domain_suffix_blocklist")
    assert "LIKE" not in plan and "Contains" not in plan
    assert "Generate explode" in plan
    assert "BroadcastHashJoin" in plan


def test_nprobe_curve_group_limits_and_broadcast_probes(spark, sf_dir):
    """knn_ivf_nprobe_recall_curve's top-5 cuts must be WindowGroupLimit
    (only ~k rows per group cross the exchange) and the probe/candidate
    gating must be broadcast joins — a shuffled or nested-loop probe
    join would be the scale bug this pin guards."""
    plan = _plan(spark, sf_dir, "knn_ivf_nprobe_recall_curve")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_zorder_audit_no_global_rank_window(spark, sf_dir):
    """layout_zorder_skipping_audit mirrors repartitionByRange with
    VALUE-RANGE binning: no row_number over the events table may exist
    (file ids are map-side arithmetic against a broadcast min/max
    frame); the only row_number-free exception is absent entirely."""
    plan = _plan(spark, sf_dir, "layout_zorder_skipping_audit")
    assert "row_number" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_compaction_plan_runs_on_manifest_frame(spark, sf_dir):
    """layout_compaction_plan must aggregate to the (source, shard)
    manifest BEFORE any window: the cumsum's child is the manifest
    aggregate, so the window input is files-sized.  One scan, one
    data-shaped exchange."""
    plan = _plan(spark, sf_dir, "layout_compaction_plan")
    assert plan.count("FileScan parquet") == 1
    assert "Window" in plan
    # the window must sit ABOVE a hash aggregate on (source, shard)
    assert plan.index("Window") > plan.index("HashAggregate")


def test_funnel_approx_contract_no_ntile_no_converter_sort(spark, sf_dir):
    """funnel_time_to_convert_approx_contract exists so the LAST
    exact-ntile row has a sortless 100 TB path: no ntile, no row_number,
    no Window anywhere; quartile assignment must be a broadcast range
    join over the GK cutpoints."""
    plan = _plan(spark, sf_dir, "funnel_time_to_convert_approx_contract")
    assert "ntile(" not in plan
    assert "row_number" not in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_bottomk_minwise_uses_window_group_limit(spark, sf_dir):
    """sample_bottomk_minwise's exchange-size claim: the per-source
    rank<=k cut must push below the window's exchange as a
    WindowGroupLimit, so only k rows per key per map partition shuffle —
    never the corpus."""
    plan = _plan(spark, sf_dir, "sample_bottomk_minwise")
    assert "WindowGroupLimit" in plan


def test_kmv_estimate_single_distinct_exchange_then_group_limit(spark, sf_dir):
    """agg_kmv_distinct_estimate: the (source, bigram) DISTINCT is the
    only data-shaped stage, the k-cut is a WindowGroupLimit, and the
    join back to the exact counts is broadcast-sized."""
    plan = _plan(spark, sf_dir, "agg_kmv_distinct_estimate")
    assert "WindowGroupLimit" in plan
    assert "BroadcastExchange" in plan


def test_kmv_sliding_window_group_limits_no_python(spark, sf_dir):
    """window_sliding_distinct_kmv_approx_contract: all three k-cuts
    (direct window, per-pane, merged) must be WindowGroupLimits so only
    k rows per key cross each exchange, the final per-window joins are
    broadcast-sized, and nothing drops to Python."""
    plan = _plan(spark, sf_dir, "window_sliding_distinct_kmv_approx_contract")
    assert plan.count("WindowGroupLimit") >= 3
    assert "BroadcastExchange" in plan
    assert "PythonUDF" not in plan and "InPandas" not in plan


def test_theil_sen_pair_join_is_salted(spark, sf_dir):
    """aggx_theil_sen_trend (VERDICT r13 next #2): the hour-pair join's
    equi-key must include the salt column g, not event_type alone — the
    de-skew that spreads pair generation over 32x more buckets."""
    import re

    plan = _plan(spark, sf_dir, "aggx_theil_sen_trend")
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) "
        r"\[event_type#\d+, (cast\()?g#",
        plan,
    ), plan[:2000]


def test_ipf_raking_single_count_exchange(spark, sf_dir):
    """corpus_ipf_raking_mix: the (source, lang) count is the only
    data-shaped stage — every IPF pass is a window over the dimension
    frame, never a rescan of documents (exactly one parquet scan of
    documents in the plan), and nothing drops to Python."""
    plan = _plan(spark, sf_dir, "corpus_ipf_raking_mix")
    # cells is checkpointed, so the documents scan appears ZERO times in
    # the main plan (the checkpoint materialized it once up front)
    assert plan.count("documents.parquet") == 0, plan[:1500]
    assert "PythonUDF" not in plan
    assert "BroadcastExchange" in plan


def test_priority_union_min_struct_no_window(spark, sf_dir):
    """dedup_priority_source_union: the per-digest winner must be ONE
    min(struct) aggregation — no rank window, no sort-based top-1, no
    join-back, no Python."""
    plan = _plan(spark, sf_dir, "dedup_priority_source_union")
    assert "row_number" not in plan
    assert "Window" not in plan
    assert "PythonUDF" not in plan


def test_benford_digit_histogram_partial_agg(spark, sf_dir):
    """dq_benford_first_digit: the only data-shaped stage is the
    (event_type, digit) histogram — partial+final HashAggregate around
    one exchange; the Benford grid broadcasts; no Python."""
    plan = _plan(spark, sf_dir, "dq_benford_first_digit")
    assert "BroadcastExchange" in plan
    assert "PythonUDF" not in plan


def test_siegel_anchors_broadcast_no_pair_shuffle(spark, sf_dir):
    """aggx_siegel_trend_sampled: the anchor frame must BROADCAST into
    the pair join (no event_type-keyed SMJ anywhere — the skew class the
    exact row needed salting for), and the anchor cut must be a
    WindowGroupLimit."""
    plan = _plan(spark, sf_dir, "aggx_siegel_trend_sampled")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "PythonUDF" not in plan


def test_url_rows_codegen_chain_and_group_limit(spark, sf_dir):
    """feed_url_canonical_host / feed_url_host_cap: the canonicalization
    chain must stay in map-side codegen (no Python), the PSL match must
    be a broadcast equi-join, and the cap's rank cut must push down as a
    WindowGroupLimit."""
    plan = _plan(spark, sf_dir, "feed_url_canonical_host")
    assert "PythonUDF" not in plan and "InPandas" not in plan
    assert "BroadcastExchange" in plan
    cap = _plan(spark, sf_dir, "feed_url_host_cap")
    assert "WindowGroupLimit" in cap
    assert "PythonUDF" not in cap and "InPandas" not in cap


def test_hilbert_audit_no_global_rank_and_fused_key_chain(spark, sf_dir):
    """layout_hilbert_skipping_audit: file ids come from value-range
    binning against broadcast min/max frames (the zorder-audit defense —
    NO corpus-sized rank window; the only row_number-free Sort allowed
    is the final 6-row orderBy), and the 8-round Hilbert walk must fuse
    into map-side projections (no exchange between rounds: exactly the
    scan exchanges + aggregate exchanges, no more)."""
    plan = _plan(spark, sf_dir, "layout_hilbert_skipping_audit")
    assert "row_number" not in plan
    assert "ntile(" not in plan
    assert "BroadcastExchange" in plan
    # the chained SELECT rounds must NOT materialize a Sort or a rank
    # on the key — the walk lives in map-side Projects (raw Exchange
    # counts are not pinnable here: the 3-arm union re-prints shared
    # subtrees in the string dump)
    assert "Sort [hkey" not in plan and "Sort [zkey" not in plan


def test_seasonal_rows_window_input_is_hourly_aggregate(spark, sf_dir):
    """ts_seasonal_decompose / anomaly_seasonal_adjusted: the trend
    window is UNPARTITIONED by design but its child must be the hourly
    aggregate (calendar-sized input — the documented dimension-sized
    window class), never the raw events."""
    for name in ("ts_seasonal_decompose", "anomaly_seasonal_adjusted"):
        plan = _plan(spark, sf_dir, name)
        assert "Window" in plan, name
        # the first Window in the plan string sits above a HashAggregate
        # (hour counts) — raw-event windows would sit right above the scan
        w = plan.index("Window")
        assert "HashAggregate" in plan[w:], name


def test_dedup_rate_rides_one_digest_exchange(spark, sf_dir):
    """dedup_rate_by_ingestion_batch: one scan of documents feeding the
    digest first-owner aggregate + the join back, then the (source,
    batch) aggregate — no window, no sort beyond the final output
    orderBy."""
    plan = _plan(spark, sf_dir, "dedup_rate_by_ingestion_batch")
    assert "Window" not in plan
    assert "row_number" not in plan


def test_t_closeness_ladder_is_one_row_aggregate(spark, sf_dir):
    """dq_t_closeness: the QI+bucket exchange is the data-shaped stage;
    the global bucket frame joins back via broadcast, and the ladder is
    a stacked 1-row aggregate — no rank window anywhere."""
    plan = _plan(spark, sf_dir, "dq_t_closeness")
    assert "row_number" not in plan
    assert "ntile(" not in plan
    assert "BroadcastExchange" in plan


def test_alignment_gate_zero_shuffle_scoring(spark, sf_dir):
    """media_text_alignment_gate / _by_source (VERDICT r14 next #7):
    the scoring chain is strictly map-only — ONE Arrow kernel (payload
    synth + real decode, caption carried through the same row: the
    LAION-shape record) and the codegen descriptors/cosine/gate add
    ZERO shuffle exchanges and NO join of any kind; the by_source
    distribution adds exactly ONE hashpartitioning exchange (the
    dimension-sized source aggregate).  No row-at-a-time Python
    anywhere."""
    plan = _plan(spark, sf_dir, "media_text_alignment_gate")
    assert plan.count("InPandas") == 1
    assert "Join" not in plan
    assert "PythonUDF" not in plan
    assert "Exchange hashpartitioning" not in plan, plan[:1500]
    by_src = _plan(spark, sf_dir, "media_text_alignment_by_source")
    assert by_src.count("Exchange hashpartitioning") == 1, by_src[:1500]
    assert "PythonUDF" not in by_src
    # the threshold curve folds ALL six keep-counts in ONE global
    # aggregate: no hashpartitioning at all (SinglePartition final) and
    # no join; the only Generate is the stack() pivot, which runs OVER
    # the 1-row aggregate output (above both HashAggregates), never on
    # the data side
    curve = _plan(spark, sf_dir, "media_text_alignment_threshold_curve")
    assert "Exchange hashpartitioning" not in curve, curve[:1500]
    assert curve.count("Generate") == 1
    assert curve.index("Generate") < curve.index("HashAggregate")
    assert "Join" not in curve and "PythonUDF" not in curve


def test_alignment_gate_exercises_both_branches(spark, sf_dir):
    """The 0.80 threshold must split the fixture: some pairs keep, some
    drop, at every SF — a gate whose fixture only ever takes one branch
    proves nothing about the other."""
    from reddit_sse_stream_spark.plans.catalog import QUERIES

    rows = QUERIES["media_text_alignment_gate"].spark(
        spark, sf_dir
    ).collect()
    keeps = sum(r["keep"] for r in rows)
    assert 0 < keeps < len(rows)
    for r in rows:
        assert (r["align_x1e4"] >= 8000) == bool(r["keep"])
