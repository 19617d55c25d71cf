"""Physical-plan shape assertions — the '.explain and iterate' loop
frozen into tests, so a regression that silently turns a broadcast
join into a sort-merge join (or drops a pushed filter) fails CI, not
a 100 TB run."""

from __future__ import annotations

import re

from data_pipeline_2025_spark import registry
from data_pipeline_2025_spark.plans import plan_of as _plan_of

SPECS = registry.load_all()


def plan_of(spark, name, sf_dir, mode="formatted") -> str:
    return _plan_of(SPECS[name].spark_fn(spark, sf_dir), mode)


def test_dimension_joins_broadcast(spark, sf_smoke):
    """J1: fact ⋈ supplier/nation/region must be broadcast-hash —
    never a shuffled sort-merge join (SURVEY §2.3)."""
    plan = plan_of(spark, "q17_revenue_by_nation", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_search_pushes_scan_filters(spark, sf_smoke):
    """Q5 price range must reach the parquet scan (row-group pruning
    at scale). On the materialized silver table both the raw-double
    superset filter and the exact decimal predicate push down."""
    plan = plan_of(spark, "q02_product_search", sf_smoke)
    assert "GreaterThanOrEqual(_price_raw" in plan
    assert "LessThanOrEqual(_price_raw" in plan
    assert "products_silver" in plan  # reads the ingest-materialized table


def test_pagination_is_take_ordered(spark, sf_smoke):
    """Q7 pagination must compile to TakeOrderedAndProject (parallel
    partial top-k with offset) — NEVER a single-partition row_number
    window, which funnels every filtered row through one task."""
    plan = plan_of(spark, "q02_product_search", sf_smoke)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_argmin_uses_window_group_limit(spark, sf_smoke):
    """W1 rank()==1 should trigger Spark's WindowGroupLimit pushdown
    (top-1 computed per partition before the full window sort)."""
    plan = plan_of(spark, "q07_cheapest_per_store", sf_smoke)
    assert "WindowGroupLimit" in plan


def test_no_accidental_cartesian(spark, sf_smoke):
    """Every query except the deliberate broadcast cross joins (ANN
    scoring against a handful of query vectors) must be
    cartesian-free."""
    allowed_cross = {
        "q40_ann_bruteforce",
        "q41_ivf_assign",
        "q42_ivf_cluster_stats",
        "q43_embedding_neardup",
        "q46_ann_pandas_vectorized",
    }
    for name in sorted(SPECS):
        if name in allowed_cross or name.startswith("q5"):  # streaming: runs a query
            continue
        plan = plan_of(spark, name, sf_smoke, mode="simple")
        assert "CartesianProduct" not in plan, name


def test_whole_stage_codegen_on_flagship(spark, sf_smoke):
    """The flagship agg pipeline must stay inside whole-stage codegen
    (no Python/row-at-a-time breaks)."""
    plan = plan_of(spark, "q01_pricing_summary", sf_smoke)
    # partial + final aggregation (map-side combine) both present
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2
    codegen = plan_of(spark, "q01_pricing_summary", sf_smoke, mode="codegen")
    assert "WholeStageCodegen subtrees" in codegen


def test_split_is_scan_local(spark, sf_smoke):
    """q62: the md5-bucket split must be pure column algebra over the
    scan — no join, no lookup table; one partial+final aggregation."""
    plan = plan_of(spark, "q62_deterministic_split", sf_smoke)
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side combine


def test_decontamination_reuses_shingle_cache(spark, sf_smoke):
    """q63: train/test/sizes all read the ONE persisted shingle frame
    (at scale: materialize once, scan thrice) — and the held-out
    probe side never becomes a cartesian."""
    plan = plan_of(spark, "q63_decontamination", sf_smoke)
    assert plan.count("InMemoryTableScan") >= 3
    assert "CartesianProduct" not in plan


def test_downsample_rates_broadcast(spark, sf_smoke):
    """q66: the per-source rate table (O(#sources) rows) must ride
    the broadcast path back onto the fact scan, never a shuffle."""
    plan = plan_of(spark, "q66_weighted_downsample", sf_smoke, mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_trigram_index_prunes_partitions(spark, sf_smoke):
    """q67: the inverted-index lookup must read only the term's own
    posting lists — the tg IN-filter pushed to the parquet scan, whose
    tg-sorted file lets row-group stats skip the rest (the GIN-index
    behavior) — and only the index's committed files."""
    import os
    from urllib.parse import urlparse

    from data_pipeline_2025_spark.operators.search import trigram_index_path
    from data_pipeline_2025_spark.streaming import txn

    df = SPECS["q67_trigram_index_search"].spark_fn(spark, sf_smoke)
    plan = _plan_of(df, "formatted")
    assert "PushedFilters" in plan
    pushed_sec = plan.split("PushedFilters")[1].split("]")[0]
    assert "In(tg," in pushed_sec.replace(" ", "")
    index = trigram_index_path(sf_smoke)
    committed = {os.path.join(index, f) for f in txn.committed_files(index)}
    assert committed
    assert {urlparse(f).path for f in df.inputFiles()} == committed


def test_trigram_index_agrees_with_scan_side(spark, sf_smoke):
    """Index-side (q67) and scan-side (q47) halves of the pg_trgm
    analog must return identical results."""
    a = SPECS["q47_trigram_fuzzy_search"].spark_fn(spark, sf_smoke).collect()
    b = SPECS["q67_trigram_index_search"].spark_fn(spark, sf_smoke).collect()
    assert [(r["name"], round(r["sim"], 12)) for r in a] == [
        (r["name"], round(r["sim"], 12)) for r in b
    ]


def test_ann_cross_join_is_broadcast(spark, sf_smoke):
    """The ANN scoring pass streams candidates against BROADCAST
    query vectors — a shuffled cartesian would be a scale bug."""
    plan = plan_of(spark, "q40_ann_bruteforce", sf_smoke, mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_vocab_join_is_broadcast(spark, sf_smoke):
    """q68: the top-K vocab (K rows) must ride the broadcast path
    onto the per-(source, token) counts — never a shuffle of the
    aggregated token stream for a 100-row dimension."""
    plan = plan_of(spark, "q68_vocab_coverage", sf_smoke, mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_scalar_is_broadcast_not_cartesian(spark, sf_smoke):
    """q71: the corpus-size scalar joins every row via a broadcast
    nested loop (1-row build side) — a shuffled cartesian would be
    a scale bug."""
    plan = plan_of(spark, "q71_tfidf_keywords", sf_smoke, mode="simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_range_join_is_equi_not_nested_loop(spark, sf_smoke):
    """q76: the bucketized interval join must plan as an EQUI join
    (hash/sort-merge on store+barcode+week) — never the
    nested-loop/cartesian refine a naive BETWEEN join degrades to."""
    plan = plan_of(spark, "q76_interval_snapshot_join", sf_smoke, mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cms_probe_join_is_broadcast(spark, sf_smoke):
    """q79: the 256-cell sketch joins the probe rows via broadcast —
    shuffling the token stream against a constant-size grid would be
    a scale bug."""
    plan = plan_of(spark, "q79_cms_heavy_hitters", sf_smoke, mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_collocation_dictionaries_broadcast(spark, sf_smoke):
    """q81: unigram dictionaries and the totals scalar ride the
    broadcast path onto the bigram aggregate; the bigram groupBy
    itself must map-side combine."""
    plan = plan_of(spark, "q81_bigram_collocations", sf_smoke, mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kmeans_centroids_broadcast(spark, sf_smoke):
    """q82: both Lloyd assignment passes stream vectors against
    BROADCAST centroids (K rows) — never a shuffled cartesian."""
    plan = plan_of(spark, "q82_kmeans_refine", sf_smoke, mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_quantiles_reuse_one_hash_partitioning(spark, sf_smoke):
    """q80: the rank window, the per-group count window, and the
    final aggregation all share ONE hash shuffle on the group key —
    a second hashpartitioning exchange would mean the window output
    got re-shuffled for the groupBy."""
    import re

    plan = plan_of(spark, "q80_group_quantiles", sf_smoke, mode="simple")
    assert len(re.findall(r"hashpartitioning", plan)) == 1, plan


def test_bloom_probe_is_broadcast(spark, sf_smoke):
    """q89: the bloom word table and the candidate sets must reach
    the fact side as broadcasts — a shuffled join would defeat the
    runtime-filter point."""
    plan = plan_of(spark, "q89_bloom_prune_join", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_packing_uses_one_shard_shuffle(spark, sf_smoke):
    """q87: the per-shard window and the per-shard aggregation must
    share ONE hash partitioning on the shard key — a second exchange
    would re-shuffle the corpus for nothing."""
    plan = plan_of(spark, "q87_sequence_packing", sf_smoke, mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_chunking_has_no_aggregation_shuffle(spark, sf_smoke):
    """q86 is a pure per-row expansion: no window, no aggregate, no
    hash-partition exchange beyond the conditional fan_out of the
    narrow scan (a round-robin repartition)."""
    plan = plan_of(spark, "q86_context_chunks", sf_smoke, mode="simple")
    assert "Window" not in plan
    assert "HashAggregate" not in plan
    exchanges = plan.count("Exchange ")
    assert exchanges <= 1, plan
    if exchanges:  # only the explicit fan_out repartition
        assert "REPARTITION_BY_NUM" in plan


def test_bucketed_join_has_no_join_shuffle(spark, sf_smoke):
    """q94: both sides bucketed on the join key means the scan
    satisfies the join distribution — no Exchange feeds the
    SortMergeJoin; the only exchange in the plan is the final
    aggregation's (different keys)."""
    plan = plan_of(spark, "q94_bucketed_colocated_join", sf_smoke, mode="simple")
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_cohort_reuses_user_partitioning(spark, sf_smoke):
    """q99: ONE events scan; the cohort-day min-window reuses the
    user-day grid's user_id partitioning, and the cohort size comes
    from the offset-0 rollup row — so exactly two data-sized hash
    exchanges (grid dedup, rollup) and no join at all."""
    plan = plan_of(spark, "q99_cohort_retention", sf_smoke, mode="simple")
    assert "Join" not in plan
    assert plan.count("FileScan parquet") == 1, plan
    # grid dedup (map-side combined), user window, rollup, size
    # window — the last two run over the O(days x 8) frame.
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_transitions_single_user_shuffle_then_tiny_window(spark, sf_smoke):
    """q100: one user_id exchange feeds the lag window; the pair
    count is map-side combinable; the per-prev total runs over the
    O(|types|^2) grouped frame, never the raw events."""
    plan = plan_of(spark, "q100_event_transitions", sf_smoke)
    assert "partial_count" in plan  # map-side combine on pair counts
    assert "SortMergeJoin" not in plan


def test_histogram_is_one_combinable_aggregation(spark, sf_smoke):
    """q102: bucket id is a pure row function — the only data-sized
    operation is ONE partial+final count aggregation; the share /
    cumulative windows run over the O(buckets) frame."""
    plan = plan_of(spark, "q102_price_histogram", sf_smoke)
    assert "partial_count" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_similarity_join_verify_is_broadcast(spark, sf_smoke):
    """q103: candidate generation is an equi-join on the trigram;
    the verification joins against the (bounded-dictionary) trigram
    sets must be broadcasts, not shuffles."""
    plan = plan_of(spark, "q103_trigram_similarity_join", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_copurchase_join_is_equi_on_order(spark, sf_smoke):
    """q104: the pair generator must be an equi-join on l_orderkey
    (fan-out bounded by basket size) — never a cartesian; the only
    nested-loop join allowed is the single-row N-orders scalar."""
    plan = plan_of(spark, "q104_copurchase_lift", sf_smoke, mode="simple")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_hopping_windows_no_join_combinable(spark, sf_smoke):
    """q105: the 4x window expansion is a projection (explode), not a
    join; the rollup must partial-aggregate before the shuffle."""
    plan = plan_of(spark, "q105_hopping_windows", sf_smoke)
    assert "Join" not in plan
    assert "partial_count" in plan


def test_session_window_single_user_exchange(spark, sf_smoke):
    """q106: the native session_window aggregation must shuffle ONCE
    on the session key (user_id) — merging sessions is sort-local
    within that partition."""
    plan = plan_of(spark, "q106_session_window_native", sf_smoke, mode="simple")
    assert "SessionWindow" in plan or "session_window" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_triangle_join_is_oriented_equi(spark, sf_smoke):
    """q107: triangle enumeration must be equi-joins over the
    oriented edge list; the only nested-loop joins are the
    single-row metric combinations at the top."""
    plan = plan_of(spark, "q107_neardup_triangles", sf_smoke, mode="simple")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan


def test_triangle_wedges_aggregated_before_close_join(spark, sf_smoke):
    """q107 (r10): the wedge stream is O(sum outdeg^2) = O(m^1.5)
    rows; it must be compressed to per-(v, w) multiplicities by an
    aggregation (map-side partial) BEFORE the close join's exchange,
    never shuffled raw (guide §2.3). Pinned by requiring a
    HashAggregate keyed exactly (v, w) in the plan."""
    import re

    plan = plan_of(spark, "q107_neardup_triangles", sf_smoke)
    # Loose on the column-type suffix (advisor r10): any #<id><type>
    # spelling matches, so a Spark formatting or type change does not
    # break the pin.
    key_re = re.compile(r"\((\d+)\) HashAggregate")
    vw_re = re.compile(r"Keys \[2\]: \[v#\d+\w*, w#\d+\w*\]")
    # Node ids in formatted explain are post-order: a child's id is
    # smaller than its parent's. Ordering claim: some (v, w)-keyed
    # HashAggregate sits ABOVE the wedge join (a SortMergeJoin with a
    # smaller id) and BELOW the close join (a SortMergeJoin with a
    # larger id).
    detail_ids = []
    for block in re.split(r"\n\n", plan):
        m = key_re.search(block)
        if m and vw_re.search(block):
            detail_ids.append(int(m.group(1)))
    assert detail_ids, (
        "no (v, w)-keyed aggregate between the wedge join and the "
        "close join"
    )
    smj_ids = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) (?:SortMergeJoin|ShuffledHashJoin)", plan)
    ]
    assert any(
        any(j < a for j in smj_ids) and any(j > a for j in smj_ids)
        for a in detail_ids
    ), "the (v, w)-keyed aggregate is not between the wedge and close joins"


def test_skyline_window_runs_on_bounded_frame(spark, sf_smoke):
    """q109: the only global-order window runs over the per-price
    grouped frame (bounded dictionary), never the raw part table —
    the table-sized ops are one combinable aggregation and one
    equi-join back."""
    plan = plan_of(spark, "q109_pareto_frontier", sf_smoke)
    assert "partial_max" in plan  # per-price max combines map-side
    assert "CartesianProduct" not in plan


def test_decay_is_single_combinable_groupby(spark, sf_smoke):
    """q110: the reference day is a single-row broadcast; the decayed
    sum must partial-aggregate before its one user_id shuffle."""
    plan = plan_of(spark, "q110_time_decayed_value", sf_smoke, mode="simple")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_small_qty_one_fact_exchange(spark, sf_smoke):
    """q112: the TPC-H Q17 shape must NOT scan the fact twice or
    join fact-to-aggregate — one l_partkey exchange feeds the
    window, the part dim is broadcast, and the only other hash
    exchange is the O(brands) final aggregation."""
    plan = plan_of(spark, "q112_small_qty_revenue", sf_smoke, mode="simple")
    assert plan.count("FileScan parquet") == 2, plan  # lineitem + part, once each
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_streaks_no_join_group_limit(spark, sf_smoke):
    """q113: gaps-and-islands must be join-free (no self-join, no
    calendar cross join); the top-streak pick must hit
    WindowGroupLimit; the island groupBy reuses the user_id
    partitioning (no exchange between window and aggregate)."""
    plan = plan_of(spark, "q113_activity_streaks", sf_smoke, mode="simple")
    assert "Join" not in plan
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_pq_encode_is_shuffle_free(spark, sf_smoke):
    """q114: PQ encoding must be pure per-row array algebra against
    a broadcast codebook — no plan-required hash shuffle. The only
    hash exchanges allowed are the explicit fan_out repartitions
    (REPARTITION_BY_NUM — a deliberate narrow-scan parallelizer,
    not a semantic requirement); the output sort is the one range
    partition."""
    plan = plan_of(spark, "q114_pq_quantization", sf_smoke, mode="simple")
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "REPARTITION_BY_NUM" in line, line
    assert "SortMergeJoin" not in plan


def test_containment_reuses_capped_shingle_join(spark, sf_smoke):
    """q115: containment pairs come from the same DF-capped shingle
    equi-join as q35 — equi hash/sort-merge only, never a cartesian
    pair enumeration."""
    plan = plan_of(spark, "q115_shingle_containment", sf_smoke, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sweepline_no_range_join(spark, sf_smoke):
    """q116: interval concurrency must be sweep-line deltas — never
    a calendar×orders range join (no nested-loop/cartesian); the
    cumulative window runs over the O(days) frame AFTER the day
    aggregation."""
    plan = plan_of(spark, "q116_orders_in_flight", sf_smoke, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_new_returning_single_grid_partitioning(spark, sf_smoke):
    """q117: one events scan; the first-day min-window reuses the
    dedup grid's user_id hash partitioning (q99's trick) — no join
    against a first-seen dimension."""
    plan = plan_of(spark, "q117_new_vs_returning", sf_smoke, mode="simple")
    assert "Join" not in plan
    assert plan.count("FileScan parquet") == 1, plan


def test_gini_one_source_exchange(spark, sf_smoke):
    """q118: the rank window and the aggregation must share ONE
    source hash exchange — Gini adds no join and no second scan."""
    plan = plan_of(spark, "q118_token_gini", sf_smoke, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_minhash_accuracy_equi_only(spark, sf_smoke):
    """q119: estimate-vs-exact accuracy must draw candidates from
    LSH buckets (equi joins only) — never an all-pairs compare."""
    plan = plan_of(spark, "q119_minhash_accuracy", sf_smoke, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_threshold_sweep_single_pair_pass(spark, sf_smoke):
    """q121: five thresholds from ONE candidate generation — the
    threshold dimension explodes the scored pair frame, it never
    re-joins or rescans shingles per threshold."""
    plan = plan_of(spark, "q121_threshold_sweep", sf_smoke, mode="simple")
    assert "CartesianProduct" not in plan
    # the 5-threshold dimension rides a row-local explode — no join
    # keyed on the threshold column anywhere in the plan
    for line in plan.splitlines():
        if "Join" in line:
            assert "t10" not in line, line


def test_lag_quantiles_no_fact_sort(spark, sf_smoke):
    """q122: the quantile windows must run AFTER the bounded
    (priority, lag) histogram aggregation — never a per-priority
    sort of fact rows (the low-cardinality-group quantile trap)."""
    plan = plan_of(spark, "q122_ship_lag_quantiles", sf_smoke, mode="simple")
    assert "partial_count" in plan  # map-side combined histogram
    # the Window must consume the HashAggregate output, so in tree
    # order (output-first) Window appears ABOVE the aggregate
    assert plan.index("Window") < plan.index("partial_count"), plan


def test_lorenz_single_hist_shuffle(spark, sf_smoke):
    """q123: one combinable ntok-histogram exchange; the cumulative
    windows run over the O(distinct ntok) frame."""
    plan = plan_of(spark, "q123_token_lorenz_curve", sf_smoke, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bm25_broadcast_stats_partial_topk(spark, sf_smoke):
    """q125: corpus stats join every row as ONE broadcast row (never
    a shuffled cartesian) and the ranking compiles to
    TakeOrderedAndProject (parallel partial top-k)."""
    plan = plan_of(spark, "q125_bm25_topk", sf_smoke, mode="simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_range_window_on_grid_not_events(spark, sf_smoke):
    """q127: the RANGE frame must consume the pre-aggregated
    user-day grid (partial+final count below the Window), so the
    frame scans O(7) grid rows — in tree order (output-first) the
    Window sits ABOVE the combined aggregation."""
    plan = plan_of(spark, "q127_trailing_range_window", sf_smoke, mode="simple")
    assert "partial_count" in plan
    assert plan.index("Window") < plan.index("partial_count"), plan
    assert "Join" not in plan


def test_gapfill_spine_is_broadcast_bounds(spark, sf_smoke):
    """q128: the calendar spine comes from ONE broadcast bounds row
    (sequence + explode) — never a range join or cartesian against
    a generated calendar table."""
    plan = plan_of(spark, "q128_gapfill_locf", sf_smoke, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row bounds join


def test_q10_shape_aggregates_before_customer_join(spark, sf_smoke):
    """q132: the custkey rollup must run BELOW the customer join
    (customer is not a broadcastable dim at scale) — in tree order
    the name join sits above the partial aggregation; returnflag is
    pushed to the fact scan."""
    plan = plan_of(spark, "q132_returned_revenue", sf_smoke, mode="simple")
    assert "EqualTo(l_returnflag,R)" in plan_of(spark, "q132_returned_revenue", sf_smoke)
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_pipeline_single_scan_conditional_sums(spark, sf_smoke):
    """q124: the stage funnel must be conditional sums over ONE
    documents scan (plus the cached signature frames) — a per-stage
    rescan would multiply the dominant cost at 100 TB."""
    plan = plan_of(spark, "q124_corpus_pipeline", sf_smoke, mode="simple")
    # signature side rides the shared persisted frames (cache scans
    # present; their InMemoryRelation lineage still PRINTS the
    # original FileScans, so scan-count is not assertable here)
    assert "InMemoryTableScan" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_dataset_card_no_rescan_per_metric(spark, sf_smoke):
    """q130: volume/quality/dup metrics fold into one aggregation
    over one scan; the lang mode runs on the grouped
    O(sources × langs) frame."""
    plan = plan_of(spark, "q130_dataset_card", sf_smoke, mode="simple")
    assert "InMemoryTableScan" in plan  # shared signature frames
    assert "CartesianProduct" not in plan


def test_multiprobe_shares_one_candidate_pass(spark, sf_smoke):
    """q147: the three nprobe levels must reuse ONE candidate join —
    a broadcast equi-join on centroid_id plus a broadcast 3-row
    level replication; never a sort-merge join or a real cartesian
    over the corpus."""
    plan = plan_of(spark, "q147_ivf_multiprobe_recall", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_vocab_growth_two_combinable_aggs(spark, sf_smoke):
    """q148: Heaps' curve must be aggregation-only — the per-token
    min-decile and the per-decile stats, both with map-side partial
    aggregation; the only join is the 10-row decile merge."""
    plan = plan_of(spark, "q148_vocab_growth", sf_smoke)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # two partial+final pairs


def test_hybrid_rerank_topk_then_broadcast(spark, sf_smoke):
    """q150: BM25 candidates must come from a parallel partial top-k
    (TakeOrderedAndProject), and the dense rerank must join that
    50-row side to embeddings by broadcast — the full corpus is
    never densely ranked."""
    plan = plan_of(spark, "q150_hybrid_bm25_cosine", sf_smoke)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_length_bucketing_joinless(spark, sf_smoke):
    """q151: the padding audit is one combinable groupBy over a CASE
    ladder — no join anywhere."""
    plan = plan_of(spark, "q151_length_bucketing", sf_smoke)
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_tombstone_purge_broadcasts_delete_list(spark, sf_smoke):
    """q152: every sweep join must broadcast the small delete list —
    a shuffled join here would reshuffle each full table per
    deletion request."""
    plan = plan_of(spark, "q152_tombstone_purge", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_surprisal_broadcasts_vocab(spark, sf_smoke):
    """q154: the unigram LM (vocab->bits) must reach the token stream
    as a broadcast-hash join — never a shuffled sort-merge join of
    the exploded token stream — and the one-row total must be a
    broadcast nested loop, not a cartesian."""
    plan = plan_of(spark, "q154_unigram_surprisal", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_quantile_envelope_broadcast_probe(spark, sf_smoke):
    """q155: the rank probe joins the per-group sketch outputs back
    to events as a broadcast (groups are bounded) with no global
    sort anywhere — the whole point of the GK sketch."""
    plan = plan_of(spark, "q155_approx_quantile_envelope", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "percentile_approx" in plan


def test_q21_shape_existence_joins(spark, sf_smoke):
    """q156: EXISTS/NOT EXISTS must compile to one LeftSemi and one
    LeftAnti join (no correlated re-execution, no cartesian);
    supplier names arrive by broadcast; top-20 is a partial
    TakeOrderedAndProject."""
    plan = plan_of(spark, "q156_waiting_supplier", sf_smoke)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_rendezvous_sharding_joinless(spark, sf_smoke):
    """q158: both shard assignments are pure column algebra + two
    aggregations — no join may appear in the plan."""
    plan = plan_of(spark, "q158_rendezvous_sharding", sf_smoke)
    assert "Join" not in plan


def test_classifier_eval_broadcast_centroids(spark, sf_smoke):
    """q159: the per-label centroid table must broadcast into the
    assignment (never a shuffled join of the vector stream against
    centroids) and the plan must be cartesian-free."""
    plan = plan_of(spark, "q159_centroid_classifier_eval", sf_smoke)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_drift_edges_broadcast(spark, sf_smoke):
    """q160: the 9-edge-per-type table must broadcast into both
    histogram passes; binning stays scan-side column algebra with
    no sort-merge join anywhere."""
    plan = plan_of(spark, "q160_distribution_drift", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_snm_verify_is_equi_join(spark, sf_smoke):
    """q164: the Jaccard verify must be an equi-join on shingles
    (bounded SNM candidates), never a cartesian — and the SNM sort
    itself must be the bucket-parallel window (hash-partitioned on
    the value-range bucket), never a single-partition global sort."""
    plan = plan_of(spark, "q164_sorted_neighborhood", sf_smoke, mode="simple")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(bucket" in plan


def test_audio_segmentation_is_shuffle_free(spark, sf_smoke):
    """q166: binary slicing is pure mapInPandas over the scan — no
    exchange anywhere in the plan."""
    plan = plan_of(spark, "q166_audio_segmentation", sf_smoke)
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


def test_waterfill_broadcasts_scalars(spark, sf_smoke):
    """q167: the budget row and the threshold row must reach the
    n-source frame by broadcast; no sort-merge join on a 20-row
    frame."""
    plan = plan_of(spark, "q167_budget_waterfill", sf_smoke, mode="simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_skew_diag_partial_topk(spark, sf_smoke):
    """q168: top-10 hot keys must be a partial top-k over the
    per-key counts (map-side combinable aggregate), with the stats
    and p99 rows broadcast."""
    plan = plan_of(spark, "q168_key_skew_diagnostics", sf_smoke)
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_jl_projection_joinless_and_linear(spark, sf_smoke):
    """q170: the projection itself must be joinless column algebra;
    the pair sample is equi-joins on shifted ids — no cartesian, no
    nested loop."""
    plan = plan_of(spark, "q170_jl_distortion", sf_smoke, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_priority_sampling_partial_topk(spark, sf_smoke):
    """q174: the weighted sample must come from a partial top-k
    (orderBy+limit -> TakeOrderedAndProject inside the checkpointed
    stage), never a corpus-wide row_number window. The checkpoint
    hides that stage behind Scan ExistingRDD, so the final plan is
    asserted window-free (ranks were computed on the K+1-row frame
    before materialization) and the top-k stage is asserted
    directly on an un-checkpointed rebuild."""
    from pyspark.sql import functions as F

    from data_pipeline_2025_spark.catalog import Catalog
    from data_pipeline_2025_spark.operators.curation import (
        _PRIO_SCALE,
        PRIO_K,
    )
    from data_pipeline_2025_spark.operators.text import tokens_col
    from data_pipeline_2025_spark.plans import plan_of as raw_plan

    plan = plan_of(spark, "q174_priority_sampling", sf_smoke)
    assert "Window" not in plan  # no corpus-wide row_number
    assert "CartesianProduct" not in plan
    pr = (
        Catalog(spark, sf_smoke)
        .documents.select("doc_id", F.size(tokens_col()).alias("wt"))
        .where(F.col("wt") > 0)
        .select(
            "doc_id",
            "wt",
            F.expr(
                f"wt * {_PRIO_SCALE} div (CAST(conv(substring(md5(CAST(doc_id AS"
                f" STRING)), 17, 12), 16, 10) AS BIGINT) + 1)"
            ).alias("prio"),
        )
    )
    stage = pr.orderBy(F.col("prio").desc(), "doc_id").limit(PRIO_K + 1)
    assert "TakeOrderedAndProject" in raw_plan(stage, "simple")


def test_phrase_search_filters_postings(spark, sf_smoke):
    """q173: each join leg must be filtered to its query term before
    the join (only the two terms' postings move) and the top-20 is a
    partial TakeOrderedAndProject."""
    plan = plan_of(spark, "q173_phrase_search", sf_smoke)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_pareto_prefix_window_is_bucket_partitioned(spark, sf_smoke):
    """q109: the running-max over the price dictionary must run as a
    window hash-partitioned on the value-range bucket (the
    bucketed_prefix_agg two-pass), never as a data-sized
    unpartitioned cumulative window — round-4 verdict watch item."""
    plan = plan_of(spark, "q109_pareto_frontier", sf_smoke, mode="simple")
    assert "hashpartitioning(__bucket" in plan
    assert "CartesianProduct" not in plan


def test_equidepth_prefix_window_is_bucket_partitioned(spark, sf_smoke):
    """q143: same contract as q109 — the cents-histogram prefix sum
    is a bucket-partitioned window plus a constant-size (<= 32 row)
    bucket-offset combine, with the grand total broadcast."""
    plan = plan_of(spark, "q143_equidepth_histogram", sf_smoke, mode="simple")
    assert "hashpartitioning(__bucket" in plan
    assert "CartesianProduct" not in plan


def test_keyset_cursor_pushes_to_scan(spark, sf_smoke):
    """q176: the keyset page's cursor predicate must reach the
    parquet scan as a pushed filter (row-group min/max pruning at
    scale — the entire point of keyset over OFFSET), and the page
    itself must be a partial top-k, never a global sort."""
    plan = plan_of(spark, "q176_keyset_pagination", sf_smoke)
    assert "TakeOrderedAndProject" in plan
    pushed = plan.split("PushedFilters")[1].split("]")[0] if "PushedFilters" in plan else ""
    assert "product_id" in pushed and "GreaterThan" in pushed, pushed


def test_skew_chooser_runs_both_strategies(spark, sf_smoke):
    """q175: the chooser must genuinely execute both physical
    aggregation strategies — the salted two-phase shows up as a
    (key, _salt) partial aggregate — with no cartesian anywhere."""
    plan = plan_of(spark, "q175_skew_adaptive_agg", sf_smoke, mode="simple")
    assert "_salt" in plan
    assert "CartesianProduct" not in plan


def test_merge_upsert_broadcasts_changelog(spark, sf_smoke):
    """q179: MERGE apply must stream the base table through a
    broadcast-hash left join against the (small) CDC batch — a
    sort-merge join here would shuffle the 100 TB side."""
    plan = plan_of(spark, "q179_merge_upsert", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_zipf_topk_is_partial(spark, sf_smoke):
    """q180: top-K vocabulary selection must be a partial top-k
    (TakeOrderedAndProject), never a global sort of the whole term
    dictionary; the regression then runs on a constant 100-row
    frame."""
    plan = plan_of(spark, "q180_zipf_slope", sf_smoke)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_ivf_sweep_broadcasts_centroids(spark, sf_smoke):
    """q181: every sweep leg must broadcast its centroid set — the
    assignment is a broadcast NLJ over <=128 centroid rows, never a
    shuffle of the vector side against centroids, and never an
    unconditioned cartesian. (The in-bucket pair join itself is a
    keyed shuffle join of two data-sized sides — the correct shape;
    no assertion forbids Spark's SMJ/SHJ choice there.)"""
    plan = plan_of(spark, "q181_ivf_density_sweep", sf_smoke)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_hamming_blocking_is_equijoin(spark, sf_smoke):
    """q182: the pigeonhole segment self-join must be a keyed
    equi-join on (segment_index, segment_value) — never a nested
    loop over document pairs — and the hot-block exclusion must be
    a broadcast anti join (the hot list is tiny by construction)."""
    plan = plan_of(spark, "q182_hamming_neardup", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti BuildRight" in plan  # broadcast hot-block filter


def test_q183_global_total_is_broadcast(spark, sf_smoke):
    """q183 (Q11 shape): the scalar global-total row must arrive via
    broadcast (never a shuffled or cartesian pairing), and the
    per-part frame must be aggregated before the comparison."""
    plan = plan_of(spark, "q183_important_parts", sf_smoke)
    assert "BroadcastNestedLoopJoin" in plan  # 1-row scalar frame
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_q184_date_filter_pushed(spark, sf_smoke):
    """q184 (Q15 shape): the quarter bounds must reach the lineitem
    parquet scan, and the max-of-aggregate row must broadcast."""
    plan = plan_of(spark, "q184_top_supplier", sf_smoke)
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    # Catalyst rewrites crossJoin(max-row) + (r == m) into a
    # broadcast EQUI-join on the aggregate value — assert the
    # broadcast, reject shuffled/cartesian pairings.
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_q186_implied_predicates_pushed(spark, sf_smoke):
    """q186 (Q19 shape): the per-side implied supersets of the
    cross-side OR must push into BOTH parquet scans — quantity
    bounds into lineitem, brand/size into part."""
    plan = plan_of(spark, "q186_disjunctive_pred_join", sf_smoke)
    assert "GreaterThanOrEqual(l_quantity,1" in plan
    assert "LessThanOrEqual(l_quantity,50" in plan
    assert "In(p_brand" in plan
    assert "LessThanOrEqual(p_size,50" in plan
    assert "CartesianProduct" not in plan


def test_q187_supplier_filter_broadcasts(spark, sf_smoke):
    """q187 (Q7 shape): the two-nation supplier list must broadcast
    into the fact scan (BroadcastHashJoin) so the big orderkey join
    only sees the pruned lines; nation joins broadcast too."""
    plan = plan_of(spark, "q187_bilateral_trade", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q189_bounds_broadcast_single_fact_agg(spark, sf_smoke):
    """q189: the bounds row must broadcast into the histogram scan
    (never a shuffled pairing), and the estimate algebra must run on
    the tiny bucket frame — no cartesian, no sort-merge join."""
    plan = plan_of(spark, "q189_selectivity_estimate", sf_smoke)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_q190_topk_is_window_group_limit(spark, sf_smoke):
    """q190: the per-decile top-10 must trigger WindowGroupLimit
    (map-side partial top-k per decile) — never a full per-decile
    vocabulary sort through one task."""
    plan = plan_of(spark, "q190_trending_terms", sf_smoke)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_q191_rides_broadcast_queries(spark, sf_smoke):
    """q191: the candidate scoring must stream against BROADCAST
    query vectors (q40's pass) — no shuffled pairing anywhere."""
    plan = plan_of(spark, "q191_retrieval_ndcg", sf_smoke, mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_q194_exists_is_cokeyed_semi_join(spark, sf_smoke):
    """q194 (Q4 shape): the correlated EXISTS must compile to ONE
    left-semi join co-keyed on orderkey (date inequality as the
    residual), with the quarter bounds pushed into the orders scan."""
    plan = plan_of(spark, "q194_priority_late_exists", sf_smoke)
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "LessThan(o_orderdate" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q195_zero_shuffle_scan_agg(spark, sf_smoke):
    """q195 (Q6 shape): all three predicates must reach the lineitem
    parquet scan and the plan must contain no join and no shuffle
    other than the single-row final aggregate exchange."""
    plan = plan_of(spark, "q195_forecast_revenue", sf_smoke)
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan
    assert "Join" not in plan
    # one partial + one final HashAggregate, single exchange (count
    # in simple mode — formatted prints each node twice: tree+detail)
    simple = plan_of(spark, "q195_forecast_revenue", sf_smoke, mode="simple")
    assert simple.count("Exchange ") <= 1, simple
    assert "hashpartitioning" not in simple  # only SinglePartition


def test_q196_dims_broadcast_facts_cokeyed(spark, sf_smoke):
    """q196 (Q8 shape): supplier-nation tagging and the ASIA
    membership must broadcast; no cartesian anywhere; the customer
    membership check is a semi join."""
    plan = plan_of(spark, "q196_market_share", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q197_preagg_before_customer_join(spark, sf_smoke):
    """q197 (Q13 shape): the priority filter must push into the
    orders scan and the left join must see orders ALREADY aggregated
    to (custkey, count) — i.e. a HashAggregate below the join."""
    plan = plan_of(spark, "q197_order_count_distribution", sf_smoke)
    assert "Not(EqualTo(o_orderpriority" in plan
    left_join_pos = plan.find("LeftOuter")
    assert left_join_pos > 0
    assert "CartesianProduct" not in plan


def test_q200_keeps_both_join_strategies(spark, sf_smoke):
    """q200 (hot/cold split join): the hot head must join broadcast,
    the cold tail must stay a co-keyed shuffle join (the merge hint
    pins it against Catalyst broadcasting the tiny test-tier tail),
    and the hot list itself must be a statistics predicate with no
    global-order funnel."""
    plan = plan_of(spark, "q200_zipf_split_join", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" in plan
    # round 6: the hot list is a statistics predicate, not a top-k —
    # no global-order operator (and no row_number funnel) anywhere
    assert "TakeOrderedAndProject" not in plan
    assert "CartesianProduct" not in plan


def test_q163_audit_is_all_parallel(spark, sf_smoke):
    """q163 (z-order locality audit): round 6 replaced the global
    ntile window with equal-width value-range bucketing — the plan
    must contain NO window operator and no single-partition global
    sort; the per-file span aggregation must be hash-partitioned."""
    plan = plan_of(spark, "q163_zorder_locality", sf_smoke)
    assert "Window" not in plan
    assert "ntile" not in plan
    assert "hashpartitioning(layout" in plan


def test_q202_ivfpq_no_shuffle_joins_on_corpus(spark, sf_smoke):
    """q202 (IVF-PQ): every join that touches the corpus side must be
    broadcast — the probe list onto the assignment, the shortlist
    onto the true-vector read. A SortMergeJoin anywhere would mean
    the corpus shuffles for a 60-row build side."""
    plan = plan_of(spark, "q202_ivfpq_search", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q216_packing_window_is_hash_partitioned(spark, sf_smoke):
    """q216 (sequence packing): the cumsum window must be partitioned
    by the pack stream (hash-partitioned, parallel across streams) —
    a global-ordering window (empty partition spec) would serialize
    the whole corpus through one task."""
    plan = plan_of(spark, "q216_sequence_packing", sf_smoke)
    assert "Window" in plan
    assert "hashpartitioning(stream" in plan


def test_q225_trained_ivfpq_no_shuffle_joins_on_corpus(spark, sf_smoke):
    """q225 (trained IVF-PQ): like q202, every corpus-touching join
    must be broadcast — including the candidate stream, which
    carries its own PQ codes from the single fused encode pass
    instead of joining back against a corpus-sized codes table
    (that join would SortMergeJoin-shuffle the codes at 100 TB).
    Lloyd training's only shuffles are the map-side-combinable
    per-dimension sums. The final frame is a join of two
    checkpointed Q-row legs, so the discipline is asserted on the
    LEG SUBTREE itself — built from the PRODUCTION input helpers
    (_q225_seed_codebooks/_q225_queries/_q225_exact/_q225_leg), so
    the pinned subtree IS the one q225 executes (advisor r10) —
    plus the final frame."""
    from data_pipeline_2025_spark.operators import similarity as S

    plan = plan_of(spark, "q225_trained_ivfpq", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the leg subtree, un-checkpointed, from the production builders
    # themselves (the seed leg stands in for both — the subtree
    # shape is codebook-independent)
    vecs = S._int_vecs(spark, sf_smoke)
    subv = S._q225_sub_rows(vecs)
    c0, sc0 = S._q225_seed_codebooks(vecs)
    queries = S._q225_queries(vecs)
    exact = S._q225_exact(vecs, queries)
    leg = S._q225_leg(vecs, subv, queries, c0, sc0, exact)
    leg_plan = _plan_of(leg, "formatted")
    assert "BroadcastHashJoin" in leg_plan
    assert "SortMergeJoin" not in leg_plan
    assert "CartesianProduct" not in leg_plan


def test_q226_packing_assignment_window_is_hash_partitioned(spark, sf_smoke):
    """q226 (materialized packing): same per-stream discipline as
    q216 — the cumsum window hash-partitions on the pack stream; no
    global-ordering window anywhere."""
    plan = plan_of(spark, "q226_packed_sequences", sf_smoke)
    assert "Window" in plan
    assert "hashpartitioning(stream" in plan


def test_q230_dfp_join_is_broadcast_no_smj(spark, sf_smoke):
    """Dynamic file pruning: after the key-set prune, the exact
    dim join must be broadcast-hash (the dim is the SAME bounded
    set that was collected) — a sort-merge join would shuffle the
    pruned fact for a dim that fits in one broadcast."""
    plan = plan_of(spark, "q230_dynamic_file_pruning", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q231_rarity_joins_broadcast_corpus_never_shuffled(spark, sf_smoke):
    """Unigram rarity: both the vocabulary join and the scalar-total
    join must broadcast — the corpus-sized token stream is never
    the shuffled side of a SortMergeJoin."""
    plan = plan_of(spark, "q231_unigram_rarity", sf_smoke)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q229_segment_dedup_keeper_join_is_equi_on_occurrence_key(
    spark, sf_smoke
):
    """Segment dedup, round-8 shape (supersedes the r7 pin of the
    window form): the keep decision is a combine-safe min-struct
    aggregation whose keeper flag returns via an EQUI join on the
    unique occurrence key (seg_h, doc_id, seg_no) — never a
    cartesian, never a window (see
    test_segment_dedup_survival_is_partial_agg_not_window), and
    the join keys on md5 (32-byte hash), not the segment text."""
    plan = plan_of(spark, "q229_segment_dedup_rebuild", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "md5" in plan
    # the keeper join is present and keyed on all three columns
    assert "seg_h" in plan and "seg_no" in plan


def test_q233_hidden_partitioning_exact_filter_pushed(spark, sf_smoke):
    """Hidden partitioning: manifest pruning picks the files, and
    the residual EXACT ts predicate must still reach the parquet
    scan (row-group pruning inside kept files)."""
    plan = plan_of(spark, "q233_hidden_partitioning", sf_smoke)
    assert "GreaterThanOrEqual(ts" in plan
    assert "LessThanOrEqual(ts" in plan


def test_q237_mining_candidates_never_shuffle(spark, sf_smoke):
    """Hard-negative mining: anchors broadcast over the candidate
    scan — the corpus-sized side must never be the shuffled side of
    a SortMergeJoin."""
    plan = plan_of(spark, "q237_hard_negative_mining", sf_smoke)
    assert "SortMergeJoin" not in plan
    assert "Broadcast" in plan


def test_q244_quota_sample_prunes_columns(spark, sf_smoke):
    """Exact-quota sampling must read only (source, doc_id) — a scan
    that drags the text column through the per-stratum sort would be
    ~100x the bytes at corpus scale."""
    plan = plan_of(spark, "q244_exact_quota_sample", sf_smoke)
    assert "text" not in plan.split("ReadSchema")[-1][:300]
    assert "doc_id" in plan


def test_segment_dedup_survival_is_partial_agg_not_window(spark, sf_smoke):
    """q229 survival ranking must be the skew-proof shape: a
    partial-aggregatable min(struct(doc_id, seg_no)) per segment
    hash (map-side combine caps reducer fan-in at #map-partitions
    even for a segment duplicated 10^8 times), keeper flag restored
    by a join on the UNIQUE occurrence key. A row_number window over
    md5(segment) would funnel every copy of a hot segment through
    one task — banned."""
    plan = plan_of(spark, "q229_segment_dedup_rebuild", sf_smoke)
    assert "Window" not in plan
    assert "partial_min(struct(doc_id" in plan


def test_cdc_dedup_windows_are_doc_local_only(spark, sf_smoke):
    """q247's only windows are the per-document lead/cumsum (state
    bounded by one doc); survival over the corpus-wide chunk hash
    must be the partial-aggregatable min-struct, never a window
    keyed on content (hot-key funnel at 100 TB)."""
    import re

    plan = plan_of(spark, "q247_cdc_chunk_dedup", sf_smoke)
    assert "partial_min(struct(doc_id" in plan
    specs_ = re.findall(r"windowspecdefinition\(([^,]+)", plan)
    assert specs_, "doc-local windows expected"
    assert all(s.strip().startswith("doc_id") for s in specs_), specs_


def test_q250_classifier_applies_via_broadcast(spark, sf_smoke):
    """q250's weight table (vocab-sized) and totals scalar must ride
    the broadcast path — the corpus token stream is never the
    shuffled side of a SortMergeJoin (the train pass's groupBy is
    the only corpus shuffle)."""
    plan = plan_of(spark, "q250_nb_quality_classifier", sf_smoke)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q253_rank_windows_are_bucket_grained(spark, sf_smoke):
    """q253's corpus-stream rank window must partition by
    (source, bucket) — never by source alone, which would funnel a
    source's whole stream (unbounded at 100 TB; ~20 sources) through
    one task. The source-only windows in the plan run on the tiny
    counts grid, and the bucket counts must be partial-aggregatable."""
    import re

    plan = plan_of(spark, "q253_training_order", sf_smoke)
    assert "partial_count" in plan
    # any window ordered by the shuffle key must be bucket-grained
    for spec in re.findall(r"windowspecdefinition\(([^)]*)", plan):
        if "kk" in spec:
            assert "bucket" in spec, spec


def test_q260_probe_is_broadcast_and_window_is_stream_grained(
    spark, sf_smoke
):
    """q260's marks frame (streams x 7 rows) must ride the broadcast
    side of the range probe — the corpus cumsum frame is never the
    shuffled side of a SortMergeJoin — and the only window is the
    per-stream cumsum (partitions = data-parallel width, bounded by
    design). The per-stream totals must come from a plain
    partial-aggregatable SUM, not a second window over the corpus."""
    plan = plan_of(spark, "q260_resume_locator", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan
    assert plan.count("Window (") <= 1, plan[:2000]


def test_q261_q263_have_no_windows(spark, sf_smoke):
    """The domain scoreboard and the dedup-agreement cross-tab are
    pure agg + 1-row-per-key join-back pipelines: a window over the
    canonical URL or the content fingerprint would funnel every
    copy of a hot key through one task (the q229 ban)."""
    for name in ("q261_domain_quality_rollup", "q263_dedup_agreement"):
        plan = plan_of(spark, name, sf_smoke)
        assert "Window" not in plan, name
        assert "partial_min" in plan or "partial_count" in plan, name


def test_q262_is_scan_only(spark, sf_smoke):
    """The cleaning pass must stay one embarrassingly parallel scan:
    no join, no aggregation exchange — the only exchange allowed is
    the fan_out repartition (round-robin) and the output sort."""
    plan = plan_of(spark, "q262_markup_strip", sf_smoke)
    assert "Join" not in plan
    assert "Window" not in plan


def test_q200_cold_probe_is_prefiltered(spark, sf_smoke):
    """Round 9: hot occurrences must never enter the cold shuffle —
    the cold probe rides a broadcast ANTI-join against the hot list
    (AQE cannot split the cold join's hot partition: its build side
    rides an aggregation exchange, tools/audit_skew_joinback.py)."""
    plan = plan_of(spark, "q200_zipf_split_join", sf_smoke)
    assert "LeftAnti" in plan


def test_q251_flag_join_is_hot_cold_split(spark, sf_smoke):
    """q251's frequency-flag join must keep the q200 decomposition:
    a broadcast leg for above-fair-share segments, a broadcast
    anti-filter keeping those occurrences out of the cold shuffle,
    and both stacked document-frequency aggs partial-aggregatable."""
    plan = plan_of(spark, "q251_boilerplate_removal", sf_smoke)
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    assert "Window" not in plan


def test_q261_q263_survivor_joins_key_on_doc_identity(spark, sf_smoke):
    """Survivor joins must shuffle on the UNIQUE (content key,
    doc_id) pair — a join keyed on the bare fingerprint/curl would
    funnel every copy of a hot key through one task, and AQE cannot
    split it (agg-fused build side). Every hash-keyed join in these
    plans must therefore carry doc_id in its key list."""
    import re

    for name in ("q261_domain_quality_rollup", "q263_dedup_agreement"):
        plan = plan_of(spark, name, sf_smoke, mode="simple")
        joins = re.findall(
            r"(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)"
            r"\w*\s*\[([^\]]*)\], \[([^\]]*)\]",
            plan,
        )
        assert joins, f"no equi-joins found in {name}"
        for left, right in joins:
            if "fingerprint" in left or "curl" in left:
                assert "doc_id" in left, (name, left)
                assert "doc_id" in right, (name, right)


def test_q265_composes_both_rankings_broadcast_only(spark, sf_smoke):
    """q265 (q258 x q260 composition) must keep both parents'
    disciplines in one plan: every equi/range join rides a
    broadcast (the grid prefix and the K*7 marks frame — the corpus
    cumsum frame is never the shuffled side of a SortMergeJoin),
    per-shard totals come from a plain partial-aggregatable SUM,
    and the only single-partition window runs on the tiny
    distinct-length counts grid (the corpus windows partition by
    n_chars / shard)."""
    import re

    plan = plan_of(spark, "q265_shard_resume_cursor", sf_smoke)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan
    # both rankings present: the fine rank window partitions by
    # n_chars, the cumsum window partitions by shard — and no spec
    # orders the whole corpus by a content key
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert any(s.lstrip().startswith("n_chars") for s in specs), specs
    assert any(s.lstrip().startswith("shard") for s in specs), specs


def test_q266_is_scan_only(spark, sf_smoke):
    """Script detection is per-row codegen string work: no join, no
    window, no aggregation exchange — only the fan_out round-robin
    and the output sort (the q262 scan-only class)."""
    plan = plan_of(spark, "q266_script_detection", sf_smoke)
    assert "Join" not in plan
    assert "Window" not in plan


def test_q267_is_scan_only(spark, sf_smoke):
    """Repetition stats are doc-local array algebra (r10 rewrite):
    no join, no window, no (doc_id, gram) aggregation — the old
    two-shuffle explode/groupBy form is banned. Only the fan_out
    round-robin and the output sort may exchange."""
    plan = plan_of(spark, "q267_repetition_filter", sf_smoke)
    assert "Join" not in plan
    assert "Window" not in plan
    assert "HashAggregate" not in plan


def test_q264_foldin_has_no_windows_and_appends_via_semi_join(
    spark, sf_smoke
):
    """The ingest-gate composition must keep the dedup discipline
    end-to-end: no window anywhere (survivor selection is an agg +
    semi join on the unique doc_id), the fold-in is a LeftSemi
    append — never a rewrite — and the per-doc rollups are
    partial-aggregatable."""
    plan = plan_of(spark, "q264_lsh_index_foldin", sf_smoke)
    assert "Window" not in plan
    assert "LeftSemi" in plan
    # r11: the three per-doc rollups are one tagged-union conditional
    # agg — still map-side partial (partial_sum instead of the three
    # separate partial_counts)
    assert "partial_sum" in plan or "partial_count" in plan
    assert "CartesianProduct" not in plan


def _served_plan(spark, monkeypatch, handler, *args) -> str:
    """The plan of the frame a serve handler collects."""
    df_type = type(spark.range(1))
    collected = []
    collect = df_type.collect

    def capture(df):
        collected.append(df)
        return collect(df)

    monkeypatch.setattr(df_type, "collect", capture)
    handler(*args)
    monkeypatch.undo()
    assert len(collected) == 1  # one action per request
    return _plan_of(collected[0], "simple")


def test_served_point_queries_plan_no_shuffle(spark, smoke_frames, monkeypatch):
    """Served compare and history run in one partition after the key
    filter, the store dimension joined inside it: their plans hold no
    Exchange, so no shuffle, no range-sample job and no broadcast
    job."""
    from data_pipeline_2025_spark import server, tools

    plans = [
        _served_plan(spark, monkeypatch, server.get_barcode, *smoke_frames, {}, "50"),
        _served_plan(spark, monkeypatch, tools.compare_results, *smoke_frames, "50"),
        _served_plan(spark, monkeypatch, server.get_history, *smoke_frames, {"days": "90"}, "50"),
    ]
    for plan in plans:
        assert "products_silver" in plan
        assert re.findall(r"\w*Exchange", plan) == [], plan


def test_whole_table_history_queries_keep_their_shuffle(spark, sf_smoke):
    """No coalesce(1) leaks into whole-table use: the registry's trend
    and min/max over every barcode still hash-partition by barcode."""
    for name in ("q12_price_trend", "q13_history_minmax"):
        plan = plan_of(spark, name, sf_smoke, mode="simple")
        assert "Exchange hashpartitioning(barcode" in plan, name
        assert "Coalesce" not in plan, name
