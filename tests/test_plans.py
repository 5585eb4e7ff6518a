"""Plan-shape regression tests: the scale contract (broadcasts for dim
joins, pushdown reaching the scans, no accidental shuffle joins at
test scale)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from etl_rj_spark.analytics import REGISTRY
from etl_rj_spark.plans.audit import explain_counts, pushed_filters


def test_dim_joins_broadcast(spark, sf_dir):
    for name in ["client_zone_rollup", "dim_enrich_left", "latest_snapshot"]:
        counts = explain_counts(REGISTRY[name].build(spark, sf_dir))
        assert counts["broadcast_hash_join"] >= 1, (name, counts)
        assert counts["sort_merge_join"] == 0, (name, counts)


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    df = REGISTRY["pricing_summary"].build(spark, sf_dir)
    assert pushed_filters(df), "shipdate filter must reach the parquet scan"
    plan = df._jdf.queryExecution().executedPlan().toString()
    # column pruning: the scan must not read the unused l_orderkey
    scan_line = next(l for l in plan.splitlines() if "Scan parquet" in l)
    assert "l_orderkey" not in scan_line
    assert "l_extendedprice" in scan_line


def test_anti_join_single_exchange(spark, sf_dir):
    counts = explain_counts(REGISTRY["incremental_anti_join"].build(spark, sf_dir))
    # broadcast anti-join at this scale: one exchange (the broadcast),
    # no shuffle joins
    assert counts["sort_merge_join"] == 0
    assert counts["broadcast_hash_join"] == 1


def test_latest_snapshot_partition_pruning(spark, sf_dir, tmp_path):
    """On a fecha_carga-partitioned sink, the latest-snapshot read must
    prune partitions dynamically (scan only the newest day)."""
    import datetime

    from etl_rj_spark.sinks.snapshot import append_snapshot, read_latest_snapshot
    from etl_rj_spark.sources.parquet import read_parquet_table

    orders = read_parquet_table(spark, f"{sf_dir}/orders.parquet").limit(100)
    wh = str(tmp_path / "snap_wh")
    append_snapshot(orders, wh, snapshot_date=datetime.date(2024, 1, 1))
    append_snapshot(orders, wh, snapshot_date=datetime.date(2024, 1, 2))

    latest = read_latest_snapshot(spark, wh)
    plan = latest._jdf.queryExecution().executedPlan().toString()
    # static partition pruning: the scan's PartitionFilters carry the
    # literal snapshot date — only one partition is read
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "2024-01-02" in m.group(1), plan[:2000]
    assert latest.count() == 100


def test_topk_single_shuffle(spark, sf_dir):
    counts = explain_counts(REGISTRY["topk_orders_per_customer"].build(spark, sf_dir))
    # one hash-partition exchange on o_custkey feeds the window
    assert counts["exchange"] == 1, counts


def test_fuzzy_lookup_broadcasts_dim_and_mapping(spark, sf_dir):
    """The tiered fuzzy lookup must broadcast both the dimension and
    the name→id mapping back onto the facts — fact cardinality never
    enters a shuffle join."""
    counts = explain_counts(REGISTRY["fuzzy_rescued_lookup"].build(spark, sf_dir))
    assert counts["sort_merge_join"] == 0, counts
    assert counts["broadcast_hash_join"] >= 2, counts


def test_lsh_topk_no_sort_merge(spark, sf_dir):
    counts = explain_counts(REGISTRY["ann_lsh_topk"].build(spark, sf_dir))
    assert counts["sort_merge_join"] == 0, counts


def test_q19_disjunctive_pushdown_reaches_both_scans(spark, sf_dir):
    """Catalyst must factor the single-table disjunct projections of
    the OR-of-ANDs predicate down to BOTH parquet scans (brand/size
    groups → part, quantity ranges → lineitem) — losing this turns a
    pre-filtered broadcast join into a full-scan join at 100 TB."""
    df = REGISTRY["disjunctive_revenue_q19"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)", plan)
    assert any("p_brand" in p and "Or(" in p for p in pushed), pushed
    assert any("l_quantity" in p and "Or(" in p for p in pushed), pushed


def test_q21_flags_aggregate_reused_once(spark, sf_dir):
    """The exclusive-late-supplier plan must keep the big-big
    orders⋈lineitem as its ONLY sort-merge join — the culprit filter
    and the per-supplier count reuse the per-(order,supplier) flags
    aggregation instead of rescanning lineitem."""
    counts = explain_counts(REGISTRY["exclusive_late_supplier_q21"].build(spark, sf_dir))
    assert counts["sort_merge_join"] <= 1, counts
    assert counts["parquet_scans"] <= 5, counts


def test_kmeans_assignment_is_pure_map(spark, sf_dir):
    """The packed-centroid argmin assignment must be a single pruned
    corpus scan feeding a broadcast cross-join — NO data exchange: at
    100 TB a per-iteration corpus shuffle is the dominant cost the
    packed-array design removes."""
    from etl_rj_spark.operators.kmeans import kmeans_assign, kmeans_fit
    from etl_rj_spark.sources.parquet import read_parquet_table

    e = read_parquet_table(spark, f"{sf_dir}/embeddings.parquet")
    cents = kmeans_fit(e, k=4, iters=1)
    counts = explain_counts(kmeans_assign(e, cents))
    assert counts["parquet_scans"] == 1, counts
    plan = kmeans_assign(e, cents)._jdf.queryExecution().executedPlan().toString()
    # broadcast of the packed centroids is the ONLY exchange
    assert "BroadcastExchange" in plan
    import re

    # the only non-broadcast exchange allowed is the SinglePartition
    # collect of the k packed centroids (k rows, metadata not data);
    # a hashpartitioning exchange would mean the corpus shuffles
    data_exchanges = [
        l for l in plan.splitlines()
        if re.search(r"\bExchange hashpartitioning", l)
    ]
    assert not data_exchanges, data_exchanges


def test_sessionization_single_shuffle(spark, sf_dir):
    """Both stacked windows share the (user, ts) sort: ONE exchange,
    and the epoch arithmetic stays on the normalized TimestampType (no
    extra projection-stage casts blocking codegen)."""
    counts = explain_counts(REGISTRY["sessionization"].build(spark, sf_dir))
    assert counts["exchange"] == 1, counts
    assert counts["sort_merge_join"] == 0


def test_range_join_bucketized_not_nested_loop(spark, sf_dir):
    """The time-bucket equi-join must plan as a hash/merge join —
    never BroadcastNestedLoopJoin, which is the O(n·m) trap a naive
    inequality join falls into."""
    df = REGISTRY["range_join_error_clicks"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    counts = explain_counts(df)
    assert counts["sort_merge_join"] + counts["broadcast_hash_join"] >= 1


def test_jsonl_read_prunes_parse_schema(spark, sf_dir, tmp_path):
    """A projection over the JSONL source must narrow the scan's
    ReadSchema to the selected fields (+ the corrupt column) — parsing
    all fields of every line to serve a 2-column projection is the
    JSON analog of reading all parquet columns."""
    from etl_rj_spark.sources.jsonl import DOCUMENTS_SCHEMA, read_jsonl
    from etl_rj_spark.sources.parquet import read_parquet_table

    d = str(tmp_path / "docs_jsonl")
    read_parquet_table(spark, f"{sf_dir}/documents.parquet").write.mode(
        "overwrite"
    ).json(d)
    df = read_jsonl(spark, d, DOCUMENTS_SCHEMA).select("doc_id", "lang")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_line = next(l for l in plan.splitlines() if "Scan json" in l)
    assert "doc_id" in scan_line and "lang" in scan_line
    assert "text" not in scan_line, "unused text field must be pruned from the parse"


def test_topk_sketch_rollup_bounded_plan(spark, sf_dir):
    """New r6 bench row: sketch + exact-contract passes = exactly 2
    scans; the estimate⋈exact join broadcasts (both sides are
    vocabulary-sized); no sort-merge anywhere."""
    counts = explain_counts(REGISTRY["topk_sketch_rollup"].build(spark, sf_dir))
    assert counts["parquet_scans"] == 2, counts
    assert counts["broadcast_hash_join"] >= 1, counts
    assert counts["sort_merge_join"] == 0, counts


def test_theta_segment_algebra_single_scan_no_joins(spark, sf_dir):
    """New r6 bench row: one filtered scan of orders, zero joins — the
    segment pivot is conditional aggregation over merged KB sketches,
    and the priority filter reaches the scan."""
    df = REGISTRY["theta_segment_algebra"].build(spark, sf_dir)
    counts = explain_counts(df)
    assert counts["parquet_scans"] == 1, counts
    assert counts["broadcast_hash_join"] == 0, counts
    assert counts["sort_merge_join"] == 0, counts
    assert pushed_filters(df), "o_orderpriority IN filter must reach the scan"


def test_scd2_multi_window_count_constant(spark, sf_dir):
    """scd2_apply_multi plan depth is independent of the number of
    effective dates in the batch (the r5 per-date loop stacked one
    apply layer per date): ≤3 Window operators for 1 vs 200 dates."""
    from pyspark.sql import functions as F

    from etl_rj_spark.operators.scd import scd2_apply_multi

    dim = spark.createDataFrame(
        [(1, "A", "1995-01-01", None)],
        "k int, seg string, valid_from string, valid_to string",
    ).selectExpr(
        "k", "seg", "CAST(valid_from AS DATE) valid_from",
        "CAST(valid_to AS DATE) valid_to",
    )

    def batch(n):
        return spark.range(n).select(
            F.lit(1).alias("k"),
            F.concat(F.lit("S"), F.col("id")).alias("seg"),
            F.date_add(F.lit("2000-01-01").cast("date"), F.col("id").cast("int"))
            .alias("effective_date"),
        )

    w1 = scd2_apply_multi(dim, batch(1), ["k"], ["seg"])._jdf.queryExecution(
    ).optimizedPlan().toString().count("Window")
    w200 = scd2_apply_multi(dim, batch(200), ["k"], ["seg"])._jdf.queryExecution(
    ).optimizedPlan().toString().count("Window")
    assert w1 == w200 <= 3, (w1, w200)


def test_bloom_decontaminate_broadcast_only_plan(spark, sf_dir):
    """New r7 bench row: the bitmap and the verify gram set both
    broadcast — the corpus gram stream must never reach a shuffle
    join; its only exchanges are the benchmark-side distinct and the
    final per-doc aggregate."""
    counts = explain_counts(REGISTRY["decontaminate_docs_bloom"].build(spark, sf_dir))
    assert counts["broadcast_hash_join"] == 2, counts
    assert counts["sort_merge_join"] == 0, counts


def test_weighted_sample_single_shuffle_with_group_limit(spark, sf_dir):
    """New r7 bench row: A-ES top-k per group = ONE exchange (by
    group), with WindowGroupLimit pushed below it so each map task
    pre-trims to k before shuffling."""
    df = REGISTRY["weighted_sample_sources"].build(spark, sf_dir)
    counts = explain_counts(df)
    assert counts["sort_merge_join"] == 0 and counts["broadcast_hash_join"] == 0, counts
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, "map-side group-limit missing"
    # one shuffle (by group); "Exchange" also matches BroadcastExchange
    # but both join counters are pinned 0 above
    assert counts["exchange"] <= 1, counts


def test_prefix_filter_no_cartesian(spark, sf_dir):
    """New r7: the prefix-filtered set-similarity join must stay an
    equi-join pipeline — no CartesianProduct / BroadcastNestedLoopJoin
    anywhere (the all-pairs shape it exists to avoid)."""
    df = REGISTRY["set_similarity_prefix_pairs"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_equi_depth_bins_broadcast_map_back(spark, sf_dir):
    """New r7: the bin map and the scalar total broadcast back — the
    row side never shuffle-joins, and no global row sort exists (the
    single sort is over the distinct-value table inside the window).
    Tightened r12 (VERDICT r11 §wrong #1): the distinct-value
    cumulative itself now rides the two-phase range-bucket form, so
    the EXECUTED plan must contain no unpartitioned WindowExec — a
    near-unique vocabulary degrades to a shuffle, never one task."""
    df = REGISTRY["equi_depth_price_bins"].build(spark, sf_dir)
    counts = explain_counts(df)
    assert counts["sort_merge_join"] == 0 and counts["shuffled_hash_join"] == 0, counts
    assert counts["broadcast_hash_join"] >= 1, counts
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert win_lines, "expected the per-bucket cumulative window"
    for l in win_lines:
        assert "__pid" in l, ("unpartitioned window in equi-depth plan", l)


def test_standardize_stats_broadcast_scan_stage_z(spark, sf_dir):
    """New r7: standardization stats ride ONE broadcast row back into
    a scan-stage transform — no join shuffle on the vector side."""
    df = REGISTRY["embedding_standardize"].build(spark, sf_dir)
    counts = explain_counts(df)
    assert counts["sort_merge_join"] == 0 and counts["shuffled_hash_join"] == 0, counts


def test_exact_auc_no_row_sort(spark, sf_dir):
    """New r7: AUC's only Sort is the vocabulary cumulative window —
    the row-level relation is never globally sorted (per-score counts
    reduce first)."""
    df = REGISTRY["exact_auc_purchase_value"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one Window (the cumulative over distinct scores)
    assert plan.count("Window") - plan.count("WindowGroupLimit") >= 1
    counts = explain_counts(df)
    assert counts["sort_merge_join"] == 0, counts


def test_poisson_bootstrap_single_pass(spark, sf_dir):
    """New r7: all 32 bootstrap replicates come from ONE
    partial-aggregating pass — the replicate fan-out is a scan-stage
    Generate, with no join anywhere and a single data shuffle of 32
    groups (plus the output sort)."""
    df = REGISTRY["poisson_bootstrap_revenue"].build(spark, sf_dir)
    counts = explain_counts(df)
    assert counts["sort_merge_join"] == 0 and counts["broadcast_hash_join"] == 0, counts
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan
    assert counts["exchange"] <= 2, counts  # 32-group hash + output range


def test_bpe_pair_counts_scan_bound(spark, sf_dir):
    """New r7: the BPE pair statistic is scan-bound — pair fan-out in
    the scan stage (two Generates), partial count before the single
    tiny exchange, no joins, text column only."""
    df = REGISTRY["bpe_pair_merge_candidates"].build(spark, sf_dir)
    counts = explain_counts(df)
    assert counts["sort_merge_join"] == 0 and counts["broadcast_hash_join"] == 0, counts
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate") == 2, plan.count("Generate")
    scan_line = next(l for l in plan.splitlines() if "Scan parquet" in l)
    assert "text" in scan_line and "doc_id" not in scan_line


def test_attribution_no_nested_loop(spark, sf_dir):
    """New r7: the 7-day window join must stay an equi-join on the
    user key (hash or broadcast by size) with the range predicate as a
    join condition — never a BroadcastNestedLoopJoin/CartesianProduct,
    and both event scans keep their type filters pushed."""
    df = REGISTRY["purchase_attribution_linear"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert pushed_filters(df), "event_type filters must reach the scans"


def test_weighted_percentiles_value_grain_window(spark, sf_dir):
    """New r7: the cumulative window runs over DISTINCT values (the
    per-value aggregate reduces first) and the scalar total broadcasts
    back — no shuffle join touches the row-level relation."""
    df = REGISTRY["weighted_percentiles_price"].build(spark, sf_dir)
    counts = explain_counts(df)
    assert counts["sort_merge_join"] == 0 and counts["shuffled_hash_join"] == 0, counts


def test_cms_probe_broadcasts_sketch(spark, sf_dir):
    """New r7: the count-min state is KB-sized; the probe side joins
    it as a broadcast — no shuffle join between probes and sketch."""
    df = REGISTRY["cms_user_event_counts"].build(spark, sf_dir)
    counts = explain_counts(df)
    assert counts["sort_merge_join"] == 0 and counts["shuffled_hash_join"] == 0, counts
    assert counts["broadcast_hash_join"] >= 1, counts


def test_search_topk_has_no_window_exec(spark, sf_dir):
    """VERDICT r7 #2: the lexical and fused rankings must use the
    distributed TakeOrdered top-k, not a global row_number window.
    keyword_search_topk must have NO WindowExec at all; hybrid's only
    windows are cosine_topk's per-query (partitioned) rank."""
    df = REGISTRY["keyword_search_topk"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan, "unexpected WindowExec"

    df = REGISTRY["hybrid_search_rrf"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    for l in plan.splitlines():
        if "Window [" in l:
            assert "query_id#" in l, ("unpartitioned window in hybrid plan", l)

    # bm25 (new bench row r9) rides the same ranked_topk contract
    df = REGISTRY["bm25_search_topk"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan, "unexpected WindowExec in bm25 plan"


def test_pareto_windows_are_partitioned(spark, sf_dir):
    """VERDICT r7 #3: pareto's rank/cumsum windows must run per range
    bucket (partitioned by __pid) — never over one global partition."""
    df = REGISTRY["pareto_revenue_report"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert win_lines, "expected the per-bucket windows"
    for l in win_lines:
        assert "__pid" in l, ("unpartitioned window in pareto plan", l)


def test_gini_windows_are_partitioned(spark, sf_dir):
    """The Gini rank must ride the two-phase range-bucket form — every
    window in its plan partitioned by __pid (VERDICT r7 #3 family)."""
    df = REGISTRY["gini_revenue_customers"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert win_lines, "expected the per-bucket windows"
    for l in win_lines:
        assert "__pid" in l, ("unpartitioned window in gini plan", l)


def test_ivm_fold_broadcasts_delta_side(spark, tmp_path):
    """VERDICT r8 #5: the IVM join fold's two joins are delta-vs-log;
    with micro-batch-sized (localCheckpointed, exact-stats) deltas the
    DELTA side must broadcast against the accumulated log — never a
    sort-merge shuffle of the log, and never a BroadcastExchange over
    a log-side parquet scan."""
    from etl_rj_spark.streaming.ivm import join_delta_view

    a_log = spark.range(0, 50_000).select(
        F.col("id").alias("ka"), (F.col("id") % 97).alias("va")
    )
    b_log = spark.range(0, 50_000).select(
        F.col("id").alias("kb"), (F.col("id") % 89).alias("vb")
    )
    a_log.write.parquet(str(tmp_path / "a"))
    b_log.write.parquet(str(tmp_path / "b"))
    a_old = spark.read.parquet(str(tmp_path / "a"))
    b_old = spark.read.parquet(str(tmp_path / "b"))
    da = spark.range(0, 100).select(
        (F.col("id") + 50_000).alias("ka"), F.lit(1).alias("va")
    ).localCheckpoint()
    db = spark.range(0, 100).select(
        (F.col("id") + 50_000).alias("kb"), F.lit(2).alias("vb")
    ).localCheckpoint()

    dv = join_delta_view(da, db, a_old, b_old, "ka", "kb")
    counts = explain_counts(dv)
    assert counts["sort_merge_join"] == 0, counts
    assert counts["broadcast_hash_join"] == 2, counts
    # the broadcast child must be the checkpointed delta (ExistingRDD),
    # not a log-side parquet scan
    lines = dv._jdf.queryExecution().executedPlan().toString().splitlines()
    for i, l in enumerate(lines):
        if "BroadcastExchange" in l:
            subtree = "\n".join(lines[i:i + 3])
            assert "Scan parquet" not in subtree, subtree


def test_zipf_windows_are_partitioned(spark, sf_dir):
    """VERDICT r8 #2: the token-vocabulary rank (10⁸–10⁹ distinct
    tokens at 100 TB) must ride the two-phase range-bucket
    `global_rank_cumsum` — every window in the zipf plan partitioned
    by __pid, never one global `row_number` sort."""
    df = REGISTRY["zipf_slope_tokens"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert win_lines, "expected the per-bucket windows"
    for l in win_lines:
        assert "__pid" in l, ("unpartitioned window in zipf plan", l)
    # zipf consumes only the rank: Catalyst must prune the unused
    # running-sum machinery (cum window + offset sums) entirely
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "__lcum" not in opt and "__off_s" not in opt, (
        "unused cumsum not pruned from zipf plan"
    )


def test_interval_overlap_equi_join_not_nested_loop(spark, sf_dir):
    """r9 bench/prefix family: the session × error-burst overlap join
    must meet candidates on the bucket EQUI-join with the exact
    overlap predicate as a residual — never a
    BroadcastNestedLoopJoin/CartesianProduct theta join over the DATA
    relations. The r12 two-phase global burst sessionize adds the
    deliberate triangular joins over its per-shuffle-partition stats
    frame (one row per partition, configuration-bounded — the
    global_rank_cumsum pattern), so nested loops are allowed iff
    their condition is the stats frame's __pid ordering."""
    df = REGISTRY["session_error_overlap"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "NestedLoop" in line:
            assert "__pid" in line, ("data-sized theta join", line)


def test_triangle_count_no_cartesian_and_wedge_joins(spark, sf_dir):
    """New bench row r9: degree-oriented triangle counting is two
    equi-joins over the oriented edge list (wedge enumeration +
    closing-edge probe) — big-big SMJ/SHJ is the INTENDED strategy.
    The ONLY nested-loop joins allowed are the two condition-less
    1-row scalar combines at the end (n_edges/tri broadcast onto
    wedge_total); no CartesianProduct, and the edge-sized joins are
    equi."""
    df = REGISTRY["triangle_count_copurchase"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan.count(
        "BroadcastNestedLoopJoin"
    )
    counts = explain_counts(df)
    joins = (
        counts["sort_merge_join"]
        + counts["shuffled_hash_join"]
        + counts["broadcast_hash_join"]
    )
    assert joins >= 2, counts


def test_twap_single_exchange_reuse(spark, sf_dir):
    """time_weighted_value_user: the LEAD window and the per-user
    aggregate must share ONE hash exchange on user_id (the aggregate
    reuses the window's partitioning) over a single events scan."""
    counts = explain_counts(REGISTRY["time_weighted_value_user"].build(spark, sf_dir))
    assert counts["exchange"] == 1, counts
    assert counts["parquet_scans"] == 1, counts


def test_expectation_suite_single_scan(spark, sf_dir):
    """expectation_suite_orders: six rules + PK uniqueness in ONE pass —
    exactly one parquet scan; the only exchanges move 1-row partials."""
    counts = explain_counts(REGISTRY["expectation_suite_orders"].build(spark, sf_dir))
    assert counts["parquet_scans"] == 1, counts
    assert counts["sort_merge_join"] == 0, counts


def test_kmeans_carry_through_assignment_join_budget(spark, sf_dir):
    """The r11 carry-through assignment deleted the join-back-by-id at
    every kmeans rescoring/prune call site (executed-plan audit in
    SCALE.md §16): pin the shuffle budget so a refactor can't silently
    reintroduce a corpus-sized join. Measured at HEAD: semdedup_prune
    3 Exchanges / 1 SMJ, ann_kmeans_ivf_topk 6 / 0, semdedup_incremental
    6 / 2 — the pins allow equality, never growth."""
    budgets = {
        "semdedup_prune": (3, 1),
        "ann_kmeans_ivf_topk": (6, 0),
        "semdedup_incremental": (6, 2),
    }
    for name, (max_ex, max_smj) in budgets.items():
        df = REGISTRY[name].build(spark, sf_dir)
        counts = explain_counts(df)
        assert counts["exchange"] <= max_ex, (name, counts)
        assert counts["sort_merge_join"] <= max_smj, (name, counts)


def test_token_chi2_no_window_at_all(spark, sf_dir):
    """r12 window audit: the token-vocabulary contingency grid may
    not be walked by ANY window (tokens are not a bounded grain —
    SCALE.md §3); totals ride aggregates + broadcast joins."""
    df = REGISTRY["token_dist_chi2_drift"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "window over the token grid"


def test_session_error_overlap_windows_partitioned(spark, sf_dir):
    """r12 window audit: the global error-burst sessionize rides the
    two-phase range-bucket form — every window in the overlap plan is
    partitioned (by user for view sessions, by __pid for bursts)."""
    df = REGISTRY["session_error_overlap"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert win_lines, "expected the session windows"
    for l in win_lines:
        assert "__pid" in l or "user_id" in l, ("unpartitioned window", l)


def test_ntile_scaled_windows_partitioned(spark, sf_dir):
    """r12: the exact-ntile twin must carry NO unpartitioned window —
    its global row number rides the two-phase range-bucket form, so
    every window in the plan is keyed by __pid."""
    df = REGISTRY["ntile_acctbal_quartiles_scaled"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert win_lines, "expected the per-bucket rank window"
    for l in win_lines:
        assert "__pid" in l, ("unpartitioned window in exact-ntile plan", l)


def test_lowcard_category_stats_are_value_grain(spark, sf_dir):
    """r12 low-cardinality-key audit: per-category order statistics
    (median/MAD, trimmed mean, distribution ranks) must ride the
    value-grain grouped CDF — no row_number/rank windows over the raw
    rows (corpus/|categories| per task), and the groupwise-min query
    must carry no window at all (agg + broadcast join)."""
    for name in (
        "mad_outlier_events",
        "trimmed_mean_price_brand",
        "acctbal_distribution_ranks",
    ):
        plan = (
            REGISTRY[name].build(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "row_number" not in plan, (name, "row-grain rank window")
        assert "percent_rank" not in plan and "cume_dist" not in plan, name
    plan = (
        REGISTRY["cheapest_part_per_type"].build(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan, "groupwise-min must be agg + join"
