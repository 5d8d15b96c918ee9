"""Plan-shape regression tests: pin the physical-plan properties the scale
design depends on (SCALE.md), so a future edit that silently reintroduces a
second scan / drops a pushdown / falls back to a cartesian join fails CI,
not a 100 TB run. Checked on the declared (pre-AQE) plan — these are
structural properties, not runtime size decisions."""

import pytest

from steampipe_plugin_terraform_spark.catalog import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    return QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def _plan_df(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---- pre-round-5 pins (restored after an accidental overwrite) ----


@pytest.mark.parametrize("name", ["docs_redact_pii", "emb_quantize_int8", "media_frame_sample", "media_metadata"])
def test_narrow_ops_have_no_exchange(spark, name):
    # pure per-row transforms: any KEY shuffle is a regression. An
    # operator's gated round-robin spread is permitted — it gives per-row
    # work parallelism on the single-row-group sf* fixtures (gated off for
    # real inputs).
    assert "Exchange hashpartitioning" not in _plan_df(QUERIES[name](spark, SF))


def test_narrow_ops_stay_narrow_on_parallel_input(spark):
    # operator-level guarantee: with an already-parallel source the per-row
    # operators add NO exchange of any kind
    from steampipe_plugin_terraform_spark.operators import similarity, text

    docs = spark.read.parquet(f"{SF}/documents.parquet").repartition(8)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").repartition(8)
    for df in (text.fingerprint(docs), similarity.quantize_int8(emb)):
        plan = _plan_df(df)
        assert plan.count("Exchange") == 1  # only the explicit repartition above
        assert "Exchange hashpartitioning" not in plan


def test_top_ngrams_uses_take_ordered(spark):
    plan = _plan_df(QUERIES["docs_top_bigrams"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort stage


@pytest.mark.parametrize(
    "name", ["q_promo_revenue_ratio", "q_small_quantity_revenue", "q5_region_revenue"]
)
def test_dim_joins_are_broadcast(spark, name):
    plan = _plan_df(QUERIES[name](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_single_grouping_shuffle(spark):
    # exactly one hashpartitioning exchange (the grouped-map UDF's), keyed
    # on (group, shard); the shuffled projection carries the computed
    # weight, not the text column (text is projected away before the
    # exchange — its only appearance is inside the scan/project subtree)
    plan = _plan_df(QUERIES["docs_pack_sequences"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    head = plan.split("Exchange hashpartitioning", 1)[1].splitlines()[0]
    assert "lang" in head and "shard" in head and "text" not in head


def test_q1_filter_pushed_to_scan(spark):
    plan = _plan_df(QUERIES["q1_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "PushedFilters: [*IsNotNull(l_shipdate)" in plan


# ---- round-5 pins ----


def test_q20_single_lineitem_scan(spark):
    """The scalar threshold is a window over the aggregated frame — a
    scalar-subquery formulation re-executes the whole lineitem⋈part
    aggregation as a second scan."""
    assert _plan(spark, "q20_excess_quantity_suppliers").count("lineitem.parquet") == 1


def test_q15_window_group_limit_prunes_before_sort(spark):
    """rank()=1 over the global revenue order must plan a WindowGroupLimit
    (partial+final) so each partition prunes to its top candidates before
    the single-partition sort."""
    assert "WindowGroupLimit" in _plan(spark, "q15_top_supplier")


def test_q15_single_lineitem_scan(spark):
    """The rank-once formulation exists to avoid TPC-H q15's
    revenue-view-referenced-twice double scan."""
    assert _plan(spark, "q15_top_supplier").count("lineitem.parquet") == 1


def test_q6_filters_reach_the_scan(spark):
    """The pushdown showcase: ship-date bounds must appear in PushedFilters,
    not in a post-scan Filter only."""
    plan = _plan(spark, "q6_forecast_revenue")
    scan = [l for l in plan.splitlines() if "lineitem.parquet" in l]
    assert scan and "PushedFilters: [" in scan[0]
    assert "l_shipdate" in scan[0].split("PushedFilters:")[1]


def test_semantic_dedup_no_cartesian(spark):
    """Within-cluster pruning must never plan a cartesian/nested-loop join
    over the vectors (the dup-id join is a broadcast equi-join)."""
    plan = _plan(spark, "docs_semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_pair_generation_is_chunked(spark):
    """Pair emission explodes the anchor index before the pair transform:
    two Generate nodes, each bounded O(bucket) per row — a single flat
    flatten(transform(...)) (one Generate) would materialize a hot bucket's
    quadratic pair array as one executor row."""
    for name in ("dedup_jaccard_pairs", "dedup_simhash"):
        plan = _plan(spark, name)
        assert plan.count("Generate explode") >= 2, name


@pytest.mark.parametrize("name", ["q16_supplier_part_counts", "q_brand_revenue"])
def test_part_side_broadcasts(spark, name):
    """Filtered dimension sides are declared broadcast — the fact side must
    never shuffle for these joins at any scale."""
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_has_no_exchange_below_smj(spark):
    """Bucketed+sorted tables must join without any query-time shuffle:
    SortMergeJoin directly over bucketed scans. Broadcast is disabled for
    the assertion so tiny test tables can't hide a missing bucket plan."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(spark, "q_bucketed_cokey_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    join_subtree = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in join_subtree
    assert "Bucketed: true" in join_subtree


# ---- round-6 pins ----


def test_minhash_lsh_joins_never_broadcast(spark):
    """dedup_minhash_lsh's three joins (band self-join + two shingle-set
    verify joins) are merge-hinted: every side is O(N) rows, so no side is
    broadcastable at scale, and the small-SF broadcast plan Spark would
    otherwise pick DUPLICATES the heavy signature / shingle-aggregation
    subtree into the build side (round-6 adjudication of the round-5 bench
    flag). Identical shuffle exchanges on both sides let the exchange-reuse
    rule materialize each heavy subtree once."""
    plan = _plan(spark, "dedup_minhash_lsh")
    assert plan.count("SortMergeJoin") >= 3
    # the only permitted broadcast is the overcap-flag left join: its build
    # side is the set of shingles with document frequency > df_max, which
    # is tiny by construction at any corpus size (it appears twice in the
    # DECLARED plan because the sets subtree prints once per verify join;
    # AQE's exchange reuse collapses them at runtime)
    bhj = [l for l in plan.splitlines() if "BroadcastHashJoin" in l]
    assert len(bhj) <= 2 and all("LeftOuter" in l for l in bhj)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_pairs_chunked_no_cartesian(spark):
    """TF-IDF pair emission reuses the chunked anchor-explode shape (two
    bounded Generate nodes) and must never plan an all-pairs join: the
    posting-list groupBy is the ONLY pair source. The only permitted
    nested-loop joins are the Cross builds of the 1-row N-docs scalar
    total (the repo's sanctioned scalar-broadcast pattern)."""
    plan = _plan(spark, "dedup_tfidf_cosine_pairs")
    assert plan.count("Generate explode") >= 2
    assert "CartesianProduct" not in plan
    bnlj = [l for l in plan.splitlines() if "BroadcastNestedLoopJoin" in l]
    assert all("Cross" in l for l in bnlj)


@pytest.mark.parametrize("name", ["q_events_funnel", "q_events_retention_cohorts"])
def test_event_analytics_equi_joins_only(spark, name):
    """Funnel stages and cohort joins are plain user-keyed equi-joins —
    a cartesian/nested-loop fallback (e.g. from rewriting the
    min-after-predecessor predicate as a theta join) would be quadratic
    in events at scale."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["docs_epoch_shuffle", "docs_length_buckets"])
def test_ordering_ops_have_no_global_sort(spark, name):
    """Epoch shuffle and length-bucket batching order WITHIN hash shards:
    a single-partition exchange (global row_number) is the scale killer
    these designs exist to avoid."""
    plan = _plan(spark, name)
    assert "Exchange SinglePartition" not in plan


def test_pq_scoring_is_broadcast_cross_join(spark):
    """PQ/ADC scoring joins the corpus codes against the broadcast LUT
    table as a map-side broadcast nested-loop cross join (the LUT side is
    |Q|·m·k doubles — tiny by contract): the scoring stage itself must add
    no shuffle; only the final top-k window partitions by query."""
    plan = _plan(spark, "emb_pq_topk")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_hard_negatives_no_cartesian(spark):
    """Hard-negative mining scores pairs inside applyInPandas clusters —
    the plan must contain no pairwise join at all."""
    plan = _plan(spark, "emb_hard_negatives")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_ivf_pq_scoring_equi_joins_only(spark):
    """The IVF×PQ composition must stay equi-join-shaped end to end: the
    probe pairs and LUT tables join broadcast on bucket/qid keys, codes
    join on the id key — no cross/nested-loop join anywhere (unlike the
    full-corpus PQ entry, whose broadcast cross against the LUT table is
    deliberate)."""
    plan = _plan(spark, "emb_ivf_pq_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


# ---- round-6 second-wave pins (q2/q11, OHLC, anomaly, RP, weighted sample) ----


def test_q2_broadcasts_dims_single_lineitem_scan(spark):
    """Q2 shape: the part filter and the supplier⋈nation⋈region pyramid
    broadcast (lineitem never shuffles for a join), and expressing the
    correlated MIN as a window keeps the plan to ONE lineitem scan —
    TPC-H's literal form re-runs the five-table join inside the
    subquery."""
    plan = _plan(spark, "q2_min_cost_supplier")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("lineitem.parquet") == 1


def test_q11_single_scan_single_agg_shuffle(spark):
    """Q11 shape: the global threshold is a window over the aggregated
    frame, not a scalar subquery — one lineitem scan, one hash-key
    exchange (the partkey aggregation; the window reuses it or runs on
    the single-partition frame)."""
    plan = _plan(spark, "q11_important_parts")
    assert plan.count("lineitem.parquet") == 1
    assert "SortMergeJoin" not in plan


def test_ohlc_windows_and_agg_share_one_exchange(spark):
    """Both row_number windows and the final aggregate group on
    (hour, event_type): Catalyst must plan exactly one hash exchange on
    those keys and sort twice below it, not shuffle per window."""
    plan = _plan(spark, "q_events_ohlc")
    assert plan.count("Exchange hashpartitioning") == 1


def test_anomaly_single_events_scan(spark):
    """The 3σ flag is integer arithmetic over the aggregated hourly frame;
    the raw events table must be scanned exactly once."""
    plan = _plan(spark, "q_events_anomaly")
    assert plan.count("events.parquet") == 1


def test_rp_reduce_stays_narrow(spark):
    """Random projection is one Arrow-batched matmul against a broadcast
    plane matrix: no key shuffle anywhere."""
    plan = _plan(spark, "emb_rp_reduce")
    assert "Exchange hashpartitioning" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_weighted_sample_uses_take_ordered(spark):
    """A-ES top-100 must compile to TakeOrderedAndProject (per-partition
    heaps merged on the driver), never a global sort exchange."""
    plan = _plan(spark, "docs_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_ewma_single_events_scan_one_window_sort(spark):
    """8-term EWMA is lag() inside ONE window per event_type over the
    aggregated hourly frame — one raw-events scan, no self-joins."""
    plan = _plan(spark, "q_events_ewma")
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan


def test_histogram_bounds_broadcast_no_global_window(spark):
    """The bounds row must come back as a broadcast nested-loop cross
    join (1-row side), never a global single-partition WINDOW over the
    raw rows. (The plan legitimately contains one SinglePartition
    exchange: the 1-row final step of the global min/max aggregate —
    partial per-partition aggregation has already reduced each partition
    to one row before it.)"""
    plan = _plan(spark, "q_orders_price_histogram")
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_split_windows_share_one_exchange(spark):
    """Rank and count windows both partition on lang: exactly one hash
    exchange."""
    plan = _plan(spark, "docs_train_val_test_split")
    assert plan.count("Exchange hashpartitioning") == 1


def test_countmin_sketch_broadcasts_to_probe(spark):
    """The 1024-row sketch must broadcast to the probe join, and the
    probe branch's re-derivation must reach the scan as a pushed
    user_id<10 filter — the plan's two events scans are one full build
    scan plus one near-free pruned probe scan (the scalable shape;
    Catalyst pushes the probe filter through the count aggregation AND
    the hash explode)."""
    plan = _plan(spark, "q_events_countmin")
    assert "BroadcastHashJoin" in plan
    scans = [l for l in plan.splitlines() if "events.parquet" in l]
    assert len(scans) == 2
    assert sum("LessThan(user_id,10)" in l for l in scans) == 1


def test_pareto_single_orders_scan(spark):
    """Cut test and cumulative share run on the aggregated per-customer
    frame: one orders scan, no join back to raw rows."""
    plan = _plan(spark, "q_customer_pareto")
    assert plan.count("orders.parquet") == 1
    assert "Join" not in plan


def test_trend_single_scan_integer_moments(spark):
    """OLS slope from integer moments: one events scan, two aggregations,
    no join, no window over raw rows."""
    plan = _plan(spark, "q_events_trend")
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan


def test_transitions_one_window_shuffle(spark):
    """Pair extraction (user window) + pair aggregation + normalization
    window — no join back to raw events."""
    plan = _plan(spark, "q_events_transitions")
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan


def test_kmv_rank_prunes_with_window_group_limit(spark):
    """The k-smallest-per-year rank must plan a WindowGroupLimit so each
    partition forwards at most k candidates to the final sort — the
    property that keeps per-group sketch state at k values. Two orders
    scans are expected: the demo-only exact-count branch re-derives the
    distinct frame (identical exchange, runtime-reusable); folding it
    into the rank window would defeat the group limit."""
    plan = _plan(spark, "q_kmv_distinct")
    assert "WindowGroupLimit" in plan
    assert plan.count("orders.parquet") == 2


def test_quantile_sketch_sample_prunes(spark):
    """The bottom-k sample rank must plan a WindowGroupLimit (k-state
    per group per partition)."""
    assert "WindowGroupLimit" in _plan(spark, "q_quantile_bottomk_sketch")


def test_interval_sweep_aggregates_before_global_window(spark):
    """The ±1 deltas must combine into per-day rows BEFORE the
    single-partition window exchange — the aggregate-then-sweep property
    that keeps the global-order sort over |distinct days|, not |orders|.
    In the plan string the SinglePartition exchange therefore reads a
    HashAggregate, never a raw union."""
    plan = _plan(spark, "q_orders_open_interval_sweep")
    assert "Exchange SinglePartition" in plan
    pre = plan.split("Exchange SinglePartition")[-1]
    assert "HashAggregate" in pre  # aggregated frame feeds the sweep


def test_cusum_single_scan_aggregated_windows(spark):
    """One events scan; both window passes run over the daily aggregate
    (no window over raw events, no join)."""
    plan = _plan(spark, "q_events_cusum")
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan


def test_time_weighted_single_scan_one_window_sort(spark):
    """lead() is the only window; the integral is a plain partial+final
    aggregation afterwards — one scan, one window sort per type."""
    plan = _plan(spark, "q_events_time_weighted_value")
    assert plan.count("events.parquet") == 1
    assert plan.count("Window") == 1
    assert "Join" not in plan


def test_partitioned_join_prunes_dynamically(spark):
    """The fact scan must carry a dynamicpruning expression in its
    PartitionFilters — the runtime partition eliminator the star-schema
    layout exists for; without it a dim filter implies a full fact scan."""
    plan = _plan(spark, "q_partition_pruned_join")
    assert "dynamicpruning" in plan
    assert "orders_p" in plan  # serving from the partitioned store


def test_edit_distance_pairs_block_join_no_cartesian(spark):
    """Pair generation is posting-list style (r15): ONE scan, ONE
    exchange on the block key, no join at all — the former block-key
    self-join duplicated the scan+regex+window subtree into its
    broadcast build side. A cartesian/BNL join here means the blocking
    broke; a second documents scan means the self-join came back."""
    plan = _plan(spark, "dedup_edit_distance_pairs")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "Join" not in plan
    assert plan.count("documents.parquet") == 1


def test_kmv_set_ops_two_branch_scans_no_pair_join(spark):
    """Sketch + exact-calibration branches: exactly two scans (production
    keeps one), WindowGroupLimit prunes the merged-sketch rank, and pair
    construction is an explode — never a year×year join."""
    plan = _plan(spark, "q_kmv_set_ops")
    assert plan.count("orders.parquet") == 2
    assert "WindowGroupLimit" in plan
    assert "Generate explode" in plan


def test_mad_outliers_single_scan_one_window_exchange(spark):
    """Median and MAD as windowed CASE-maxes: one events scan, one
    hash exchange (the count aggregation) feeding every window — a
    join-back or branch re-scan here would multiply the raw-data cost."""
    plan = _plan(spark, "q_events_mad_outliers")
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_scd2_collapses_before_user_windows(spark):
    """One events scan; all three window passes run over the collapsed
    (user, day) frame."""
    plan = _plan(spark, "q_user_scd2_segments")
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan


def test_sliding_distinct_fanout_after_collapse(spark):
    """The 7-day fanout must run on the distinct (user, day) frame —
    in the plan the explode Generate sits above a HashAggregate, never
    directly above the scan."""
    plan = _plan(spark, "q_events_sliding_distinct_users")
    # r16: posexplode (the origin-tagged fanout) instead of explode
    gen = plan.index("Generate posexplode")
    assert "HashAggregate" in plan[gen:]  # aggregate below the explode
    # r16: the max-day cap rides the grouped day spine as a whole-frame
    # window (origin-flag device) instead of a crossJoin-broadcast over
    # a SECOND events evaluation — one scan, no join of any kind
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan


def test_top_paths_rank_on_aggregated_frame(spark):
    """Triple extraction + count + global top-10: one events scan, and
    the global rank runs above the path-count HashAggregate (≤|types|³
    rows), never over raw triples."""
    plan = _plan(spark, "q_events_top_paths")
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan


def test_weighted_median_single_scan_one_exchange(spark):
    """Cumulative-weight selection entirely inside one per-flag window
    pass: one lineitem scan, one hash exchange."""
    plan = _plan(spark, "q_weighted_median_price")
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_basket_pairs_from_arrays_not_self_join(spark):
    """Pair generation must be the basket-array comprehension (Generate
    over the per-order aggregate), not a self-join of the order frame —
    the self-join doubles the largest shuffle and re-sorts it."""
    plan = _plan(spark, "q_basket_brand_lift")
    # r16: the basket explode+groupBy moved into the checkpoint-build
    # job (one evaluation); the declared plan consumes the materialized
    # cell grid only — still no self-join anywhere
    assert "SortMergeJoin" not in plan
    # r15: the pre-basket DISTINCT exchange is gone — collect_set dedups
    # (order, brand) in the partial aggregate, so no exchange partitions
    # on the (l_orderkey, p_brand) pair any more
    import re

    for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert not ("l_orderkey" in m and "p_brand" in m), m
    # r16: marginals + the order total fold into ONE lazily-checkpointed
    # posexplode branch (ExistingRDD read by x, y and n) while the pair
    # branch stays lazy for §2.6 branch overlap — basket evaluations
    # 4 → 2, lineitem scans 16 → 4 in the declared plan (measured: the
    # eager variants serialized the branches and LOST, see the entry's
    # comment)
    assert "ExistingRDD" in plan
    assert plan.count("lineitem.parquet") <= 4


def test_equidepth_ntile_on_projected_frame(spark):
    """One orders scan feeding the global ntile; two-column projection
    reaches the scan."""
    plan = _plan(spark, "q_orders_equidepth_histogram")
    assert plan.count("orders.parquet") == 1
    assert "Join" not in plan


def test_cep_pattern_one_window_no_self_join(spark):
    """Both 'next occurrence' columns come from one window sort per user
    — a per-pattern-element self-join here is the encoding this entry
    exists to avoid."""
    plan = _plan(spark, "q_events_cep_pattern")
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan
    assert plan.count("Window") == 1


def test_triangles_no_cartesian_all_equi_joins(spark):
    # degree-ordered triangle counting: the wedge and closure joins must
    # stay equi-joins (hash/SMJ on computed keys) — a CartesianProduct or
    # BroadcastNestedLoopJoin here is the O(V^2) failure mode the
    # orientation device exists to prevent. The operator checkpoints the
    # edge set (it feeds three consumers), which hides the edge build
    # from the final declared plan — so check the un-checkpointed
    # composition, plus the scan pushdown on the edge-build frame itself.
    from steampipe_plugin_terraform_spark.operators import cluster
    from pyspark.sql import functions as F

    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_shipdate").between("1995-01-01", "1995-12-31"))
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    e = (
        li.alias("x")
        .join(li.alias("y"), F.expr("x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey"))
        .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
        .distinct()
    )
    edge_plan = _plan_df(e)
    assert "PushedFilters" in edge_plan and "l_shipdate" in edge_plan
    plan = _plan_df(cluster.triangle_counts(e, checkpoint=False))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_topk_take_ordered_and_posting_filter(spark):
    # top-k must be TakeOrderedAndProject (distributed per-partition top-k),
    # never a global row_number window over the whole scored set
    plan = _plan(spark, "docs_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    # only query-term postings survive into the tf aggregation
    assert "dup" in plan and "vector" in plan


def test_chunk_overlap_stays_narrow(spark):
    # RAG chunking is pure per-row fan-out: no key shuffle anywhere
    assert "Exchange hashpartitioning" not in _plan(spark, "docs_chunk_overlap")
    from steampipe_plugin_terraform_spark.operators import text

    docs = spark.read.parquet(f"{SF}/documents.parquet").repartition(8)
    plan = _plan_df(text.chunk_overlap(docs))
    assert plan.count("Exchange") == 1  # only the explicit repartition above


def test_interval_overlap_join_no_nested_loop_no_distinct(spark):
    # interval×interval overlap: must plan as a bucket equi-join (never
    # BroadcastNestedLoopJoin/cartesian), and the shared-bucket dedup must
    # be the free overlap-start filter — an Aggregate/Distinct above the
    # join would be the second shuffle the device exists to avoid
    plan = _plan(spark, "q_session_incident_overlap")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "__bkt" in plan  # joined on the burst bucket key


def test_orders_checksum_single_scan_partial_agg(spark):
    # one scan, map-side partial aggregation: the digest sum combines
    # per-partition before the 5-group shuffle
    plan = _plan(spark, "q_orders_checksum")
    assert plan.count("Scan parquet") == 1
    assert "partial" in plan.lower()


def test_kcore_semi_join_filtering_no_cartesian(spark):
    # each peel round filters edges by survivor membership — must plan as
    # semi joins on the node key, never a nested-loop/cartesian. The
    # catalog entry checkpoints per round (lineage truncation hides the
    # joins from the final declared plan), so inspect the un-checkpointed
    # composition of the same operator.
    from steampipe_plugin_terraform_spark.operators import cluster
    from pyspark.sql import functions as F

    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_shipdate").between("1995-01-01", "1995-12-31"))
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    e = (
        li.alias("x")
        .join(li.alias("y"), F.expr("x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey"))
        .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
        .distinct()
    )
    plan = _plan_df(cluster.kcore_peel(e, k=3, iters=3, checkpoint=False))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan


def test_nearest_centroid_broadcasts_centroids(spark):
    # |labels|·dim centroid table must broadcast — a shuffle join keyed on
    # pos would move the whole exploded corpus twice
    plan = _plan(spark, "emb_nearest_centroid_label")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_seasonal_anomaly_single_scan_one_window_family(spark):
    # one events scan; the three windowed moments share one
    # (event_type, hod) exchange over the tiny cells frame
    plan = _plan(spark, "q_events_seasonal_anomaly")
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan


def test_novelty_no_pair_join(spark):
    # novelty is O(shingles): one min-aggregation + one join back on the
    # shingle key — never a doc×doc pair join or cartesian
    plan = _plan(spark, "docs_novelty")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the only join keys are the shingle hash, not doc-id pairs
    assert "id_a" not in plan and "id_b" not in plan


def test_join_size_estimate_joins_only_summaries(spark):
    # the estimator's join is sketch-row × sketch-row on (i, cell) —
    # 1024-counter frames — plus the exact-count key join. The ONE
    # nested-loop node allowed is the deliberate 1-row × 1-row scalar
    # cross join combining the two aggregates (the repo's broadcast
    # scalar-total pattern); anything more is a regression.
    plan = _plan(spark, "q_join_size_cms_estimate")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan


# ---- round-7 pins: promoted headline entries + the new scale guards ----


def test_theil_sen_hash_join_with_presampled_sides(spark):
    # r15 restructure supersedes the round-7 join pin: pair generation is
    # now the IN-ROW chunked posting-list emission over one per-type point
    # array (the rank-window + self-join form evaluated the events-agg
    # subtree twice — broadcast build sides cannot reuse the stream
    # exchange). Pin the new shape: NO join of any kind, ONE events scan,
    # the md5-rank sampling cap applied in-row (the slice bound appears in
    # the plan) BEFORE pair emission, and the median window reusing the
    # groupBy/repartition hash(event_type) partitioning (no exchange
    # between the Generate pair emission and the Window).
    from steampipe_plugin_terraform_spark.catalog import _THEIL_SEN_MAX_HOURS

    plan = _plan(spark, "q_events_theil_sen")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for join in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
        assert join not in plan, f"pair build regressed to a {join}"
    # sampling cap is in-row, before any pairing work
    assert f", 1, {_THEIL_SEN_MAX_HOURS})" in plan
    assert "Generate" in plan  # chunked pair emission
    # one scan, column-pruned to (ts, event_type)
    import re

    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert len(scans) == 1, f"expected a single events scan, got {len(scans)}"
    for s in scans:
        cols = {c.split("#")[0] for c in s.split(",") if c}
        assert cols <= {"ts", "event_type"}, f"unpruned scan columns: {cols}"


def test_linkage_clusters_blocked_joins_only(spark):
    # both candidate-pair pipelines (Jaccard posting lists + blocked
    # Levenshtein) and the iterative connected-components loop must stay
    # equi-join shaped; a cartesian or nested-loop anywhere in this
    # composition is the classic all-pairs regression
    plan = _plan(spark, "dedup_linkage_clusters")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---- round-8 pins: entries staged in r8, promoted in r9 (pinned at
# ---- staging time so the promotion diff was a decorator flip with plan
# ---- properties already held)


def test_two_level_topk_broadcast_routing_only(spark):
    # the two-stage probe's ONLY nested-loop node is the deliberate
    # k1-row level-1 routing table cross join (the repo's broadcast
    # scalar/dim pattern); the codebook, the (cell1, cell2) candidate
    # prune, and the corpus-vector lookup must all be broadcast HASH
    # joins — an SMJ or cartesian here is the all-pairs regression the
    # two-level design exists to avoid
    plan = _plan(spark, "emb_two_level_topk")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_config_state_drift_single_full_outer(spark):
    # drift is ONE full outer join on address over two O(config-files)
    # keyed sets (Spark cannot broadcast a full outer — SMJ is the right
    # physical shape); any second join or a cartesian is a regression
    plan = _plan(spark, "tf_config_state_drift")
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") == 1
    assert "FullOuter" in plan


def test_scd2_merge_no_scalar_lineage_blowup(spark):
    # the literal-cutoff device caps the entry at its three inherent
    # branches (closed store, open store, change batch = 3 scans of the
    # collapsed source) with no scalar cross joins; the 6-scan
    # crossJoin(broadcast(horizon)) variant is the pinned-against
    # regression. Scan columns must stay pruned to the collapse inputs.
    plan = _plan(spark, "q_user_scd2_merge")
    assert plan.count("Scan parquet") <= 3
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    import re

    for s in re.findall(r"FileScan parquet \[([^\]]*)\]", plan):
        cols = {c.split("#")[0] for c in s.split(",") if c}
        assert cols <= {"ts", "user_id", "event_type"}, f"unpruned: {cols}"


def test_logsketch_single_scan_sketch_sized_tail(spark):
    # one scan (cum and total come from one two-frame window pass, not a
    # second aggregation branch), pruned to the price column; the single
    # nested-loop node is the deliberate 3-row quantile-spec broadcast —
    # everything after the partial aggregate is sketch-sized
    plan = _plan(spark, "q_quantile_logsketch")
    assert plan.count("Scan parquet") == 1
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan
    import re

    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    cols = {c.split("#")[0] for c in scans[0].split(",") if c}
    assert cols <= {"l_extendedprice"}, f"unpruned: {cols}"


# ---- round-9 pins: r10-staged entries (pinned at staging time, same
# ---- protocol as the r8 wave: promotion stays a decorator flip)


def test_ivf_incremental_no_shuffle_joins(spark):
    # the merged index probe must keep the IVF shape: candidates come
    # from ONE broadcast hash join on bucket; the incremental union adds
    # scans (base / batch / queries), never a shuffle join — an SMJ or
    # cartesian here means the merge re-keyed the store

    plan = _plan_df(QUERIES["emb_ivf_incremental_topk"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("Scan parquet") <= 3


def test_logsketch_merge_two_pruned_scans_sketch_tail(spark):
    # one scan per slice (the per-day/per-shard rollup shape this entry
    # models), both pruned to (o_orderdate, o_totalprice); the single
    # nested-loop node is the deliberate 4-row quantile-spec broadcast —
    # everything after the two partial aggregates is sketch-sized
    import re


    plan = _plan_df(QUERIES["q_logsketch_merge"](spark, SF))
    assert plan.count("Scan parquet") == 2
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan
    for s in re.findall(r"FileScan parquet \[([^\]]*)\]", plan):
        cols = {c.split("#")[0] for c in s.split(",") if c}
        assert cols <= {"o_orderdate", "o_totalprice"}, f"unpruned: {cols}"


def test_module_pinning_audit_joinless(spark):
    # a pure per-row classification over the parsed module table — any
    # join node means the audit grew an accidental self-join

    plan = _plan_df(QUERIES["tf_module_pinning_audit"](spark, SF))
    for node in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan


def test_plan_state_drift_single_full_outer(spark):
    # same pin as tf_config_state_drift: ONE full outer SMJ over two
    # O(files) keyed sets, nothing else

    plan = _plan_df(QUERIES["tf_plan_state_drift"](spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") == 1
    assert "FullOuter" in plan


def test_type_quantiles_keyed_windows_single_scan(spark):
    # the grouped-sketch point: ONE pruned scan, and the quantile
    # windows PARTITION BY the key — zero SinglePartition exchanges
    # anywhere (the ungrouped sketch's single-partition window is
    # allowed only because its input is sketch-sized; the grouped
    # variant must stay keyed); the one nested-loop node is the 3-row
    # quantile-spec broadcast
    import re


    plan = _plan_df(QUERIES["q_events_type_quantiles"](spark, SF))
    assert plan.count("Scan parquet") == 1
    assert "SinglePartition" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan
    for s in re.findall(r"FileScan parquet \[([^\]]*)\]", plan):
        cols = {c.split("#")[0] for c in s.split(",") if c}
        assert cols <= {"event_type", "value"}, f"unpruned: {cols}"


def test_stream_quantile_logsketch_sketch_sized_tail(spark):
    # the returned frame's batch tail reads the drained memory-sink
    # sketch (≤ ~1.9k rows) — its only nested-loop node is the 3-row
    # quantile-spec broadcast, no cartesian, no parquet re-scan of the
    # source (the stream already consumed it)

    plan = _plan_df(QUERIES["stream_quantile_logsketch"](spark, SF))
    assert plan.count("Scan parquet") == 0
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan


def test_unused_variables_single_broadcast_join(spark):
    # variables ∖ references: the tiny reference set joins broadcast —
    # an SMJ or cartesian means the audit shuffled the parsed corpus

    plan = _plan_df(QUERIES["tf_unused_variables"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1


def test_benchmark_contamination_broadcast_bench_pruned_scans(spark):
    # the decontamination shape: the benchmark shingle side BROADCASTS
    # (the production eval suite is fixed-size — the train side must
    # never shuffle its shingles), the only other join is the
    # sketch-sized per-bench-doc rollup, and every documents scan is
    # pruned to (doc_id, text)
    import re


    plan = _plan_df(QUERIES["docs_benchmark_contamination"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("Scan parquet") <= 3
    for s in re.findall(r"FileScan parquet \[([^\]]*)\]", plan):
        cols = {c.split("#")[0] for c in s.split(",") if c}
        assert cols <= {"doc_id", "text"}, f"unpruned: {cols}"


def test_reference_graph_single_broadcast_join(spark):
    # token set vs declared-address set: metadata-sized sides, one
    # broadcast join — an SMJ or cartesian means the corpus shuffled
    plan = _plan_df(QUERIES["tf_resource_reference_graph"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1


def test_sensitive_audit_single_broadcast_join(spark):
    # output refs vs sensitive-variable set: same metadata-join shape
    plan = _plan_df(QUERIES["tf_sensitive_output_audit"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1


def test_incremental_rollup_no_join_pruned_scans(spark):
    # the maintenance identity is pure partial-state aggregation: NO join
    # anywhere (the merge is union + re-agg at the state grain), and both
    # slice scans pruned to exactly the four needed order columns
    import re

    plan = _plan_df(QUERIES["q_orders_incremental_rollup"](spark, SF))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert len(scans) == 2
    for s in scans:
        cols = {c.split("#")[0] for c in s.split(",") if c}
        assert cols == {
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            "o_totalprice",
        }, f"unpruned: {cols}"


def test_matryoshka_blocked_matmul_broadcast_overlap(spark):
    # two blocked-matmul rankings (one cogroup pass each), overlap and
    # fan-back joins both broadcast (top-k-sized sides) — an SMJ means a
    # ranking re-shuffled into the comparison
    plan = _plan_df(QUERIES["emb_matryoshka_prefix_recall"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("FlatMapCoGroupsInPandas") == 2
    assert plan.count("BroadcastHashJoin") == 2


def test_tags_inheritance_single_broadcast_join(spark):
    # resource side vs O(files) provider blocks: one broadcast resolution
    # join, everything else per-row JSON projection
    plan = _plan_df(QUERIES["tf_tags_inheritance_audit"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1


# ---- round-9 pins: r12-wave staged entries (pinned at staging time)


def test_bitmap_distinct_keyed_aggs_no_single_partition(spark):
    # the bitmap device's whole point: ONE pruned scan, NO join, and
    # every aggregation keyed — zero SinglePartition exchanges (the
    # exchange after the partial agg carries 8-byte words, merged by
    # map-side bit_or partials, never raw ids in a single reducer)
    import re


    plan = _plan_df(
        QUERIES["q_events_bitmap_distinct_users"](spark, SF)
    )
    assert "Join" not in plan
    assert "SinglePartition" not in plan
    assert "partial_bit_or" in plan
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert len(scans) == 1
    cols = {c.split("#")[0] for c in scans[0].split(",") if c}
    assert cols == {"event_type", "user_id"}, f"unpruned: {cols}"


def test_chi2_single_scan_windows_over_cells(spark):
    # ONE scan pruned to the two categorical columns; the marginal
    # windows (incl. the deliberate grand-total SinglePartition) run
    # over the agg-sized cell frame AFTER the keyed contingency agg —
    # the post-agg-tiny-frame exemption, same as weighted_median
    import re


    plan = _plan_df(QUERIES["q_lineitem_flag_status_chi2"](spark, SF))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert len(scans) == 1
    cols = {c.split("#")[0] for c in scans[0].split(",") if c}
    assert cols == {"l_returnflag", "l_linestatus"}, f"unpruned: {cols}"
    # exactly one single-partition stage, and it sits ABOVE the keyed
    # cell agg in the tree (printed plans render parents first, so the
    # deeper hashpartitioning exchange appears later in the string)
    assert plan.count("Exchange SinglePartition") == 1
    assert plan.index("Exchange SinglePartition") < plan.index(
        "Exchange hashpartitioning"
    )


def test_unused_locals_single_broadcast_join(spark):
    # locals ∖ references — same metadata-join shape as the variables
    # audit: the tiny reference set joins broadcast, an SMJ or cartesian
    # means the parsed corpus shuffled

    plan = _plan_df(QUERIES["tf_unused_locals"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1


def test_mmr_rerank_broadcast_fanback_bounded_greedy(spark):
    # candidate generation = ONE cogrouped blocked matmul; candidates
    # re-acquire vectors via ONE broadcast join (|Q|·k build side — the
    # corpus must never shuffle); greedy = ONE grouped map over 8 rows
    # per query. An SMJ or cartesian means the corpus shuffled into the
    # re-rank

    plan = _plan_df(QUERIES["emb_mmr_rerank"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_stream_topk_keyed_rank_over_sink_only(spark):
    # the serving-layer split: the returned frame ranks the DRAINED sink
    # (agg-sized), never re-scans events; the rank is keyed by hour (no
    # single-partition stage) and rnk<=3 plans a WindowGroupLimit so
    # partitions prune to their top candidates before the shuffle

    plan = _plan_df(QUERIES["stream_hourly_topk_types"](spark, SF))
    assert plan.count("Scan parquet") == 0
    assert "SinglePartition" not in plan
    assert "Join" not in plan
    assert "WindowGroupLimit" in plan


def test_bpe_merge_pairs_vocab_sized_takeordered(spark):
    # the BPE-training trick as a plan property: ONE text-pruned corpus
    # scan, the pair explode runs AFTER the word-count agg (vocab-sized,
    # never corpus-sized), top-20 is a TakeOrderedAndProject (no global
    # sort), no joins anywhere
    import re


    plan = _plan_df(QUERIES["docs_bpe_merge_pairs"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan
    assert "Join" not in plan
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert len(scans) == 1
    assert {c.split("#")[0] for c in scans[0].split(",") if c} == {"text"}
    # explode sits above the first HashAggregate pair (word counts) —
    # printed plans render parents first, so the Generate must appear
    # BEFORE (not after) the deepest aggregate in the string... both
    # Generates (word split + pair transform): the PAIR one is above
    # the word-count agg
    gen_positions = [m.start() for m in re.finditer("Generate explode", plan)]
    last_agg = max(m.start() for m in re.finditer("HashAggregate", plan))
    assert len(gen_positions) == 2
    assert min(gen_positions) < last_agg  # pair explode above the agg chain


# ---- round-9 pins: r13-wave starter entries


def test_pq_recall_no_cartesian_single_cogroup(spark):
    # ground truth = ONE blocked-matmul cogroup; the approx side rides
    # the session-trained PQ (its only nested-loop node is the broadcast
    # LUT scoring emb_pq_topk also carries); the recall comparison joins
    # two |Q|·k pair sets — SMJ is the right at-scale shape there
    # (|Q| unbounded in production), cartesian never is
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(STAGED_QUERIES["emb_pq_recall"](spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_undeclared_references_broadcast_anti_joins(spark):
    # dangling = token scan ∖ declared names: every anti-join must
    # broadcast its metadata-sized declaration side (Spark may split the
    # unioned anti-join per kind — all of them broadcast, none SMJ)
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(STAGED_QUERIES["tf_undeclared_references"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "LeftAnti" in plan
    bhj = [l for l in plan.splitlines() if "BroadcastHashJoin" in l]
    assert bhj and all("LeftAnti" in l for l in bhj)


def test_centroid_drift_broadcast_only_two_scans(spark):
    # two frozen-centroid assignment passes (one pruned scan each), the
    # bucket fan-back joins broadcast (k-row sides) — no SMJ, no
    # cartesian, no pairwise structure anywhere
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(STAGED_QUERIES["emb_centroid_drift"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Scan parquet") == 2

def test_required_providers_audit_shuffle_free(spark):
    # settings blocks are config metadata: the audit must stay an
    # embarrassingly parallel scan — any exchange or join node means
    # the per-row JSON extraction grew a shuffle
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(QUERIES["tf_required_providers_audit"](spark, SF))
    assert "Exchange" not in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan


def test_state_lineage_audit_single_keyed_window(spark):
    # header-metadata audit: one lineage-keyed window over an O(files)
    # frame — exactly one hash exchange (the grouping semantics), no
    # SinglePartition stage, no joins, and NO python/pandas stage (the
    # state header is read Spark-natively, not through the HCL parser)
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(QUERIES["tf_state_lineage_audit"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan

def test_backend_audit_shuffle_free(spark):
    # same contract as the providers audit: settings metadata, per-row
    # JSON extraction only — any exchange/join/generator means the
    # one-backend-per-block element_at design regressed to a shuffle
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(QUERIES["tf_backend_audit"](spark, SF))
    assert "Exchange" not in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct", "Generate"):
        assert node not in plan


def test_provider_matrix_broadcast_spine(spark):
    # the spine is union+distinct precisely so the three enrichments can
    # broadcast: a full-outer rewrite would force SortMergeJoin — pin
    # the broadcast shape
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(QUERIES["tf_provider_version_matrix"](spark, SF))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

def test_cluster_quality_broadcast_and_two_aggs(spark):
    # per-vector pass = one broadcast centroid attach + one bucket agg;
    # centroid pairwise = k-row broadcast self-join (deliberate BNLJ) +
    # one k-row agg; no sort-merge, no cartesian, and exactly the two
    # keyed exchanges (per-cluster agg, k-row sep agg)
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(QUERIES["emb_cluster_quality"](spark, SF))
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert plan.count("Exchange hashpartitioning") == 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_pipeline_funnel_counter_rollup(spark):
    # the funnel is a counter roll-up: metric flags fuse into the doc
    # scan, the dup set broadcasts, and the only global stage is the
    # single 1-row aggregate (counter-sized by construction)
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(QUERIES["docs_pipeline_funnel"](spark, SF))
    assert plan.count("Exchange SinglePartition") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan

def test_variable_hygiene_shuffle_free(spark):
    # variable metadata lint: one projection over the parsed wide frame
    # — no exchange, no join (the MapInPandas is the HCL parse itself)
    plan = _plan_df(QUERIES["tf_variable_hygiene"](spark, SF))
    assert "Exchange" not in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan


def test_perplexity_buckets_no_global_sort(spark):
    # the whole point vs rank-tertiles: thresholds come from the
    # mergeable sketch, so there must be NO global sort and no Window
    # over the document frame (the single Window is over the ≤1.9k-row
    # sketch); broadcast joins only
    plan = _plan_df(QUERIES["docs_perplexity_buckets"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # r16: the LM chain's context/corpus totals now ride vocab-sized
    # windows (bigram_logprob restructure) — still ZERO windows over the
    # document frame; the bound covers the sketch window + the two
    # vocab-bounded LM windows in the formatted double-print
    assert 1 <= plan.count("Window") <= 6

def test_recall_curve_broadcast_and_localized_truth(spark):
    # three curve points share ONE ground truth, materialized by the
    # bounded-collect device (NOT .persist(): a persisted plan would
    # plan-match emb_pq_recall's identical cosine_topk subtree via the
    # cache manager and rewrite THAT entry's pinned plan); semi-joins
    # broadcast — unknown-size top-k stats would otherwise pick SMJ —
    # and the brute-force cogroup must be absent from the final plan
    # (it ran once at build time, driver-side bounded by |Q|*k)
    plan = _plan_df(QUERIES["emb_ann_recall_curve"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "InMemoryTableScan" not in plan


def test_dedup_rate_report_counter_rollup(spark):
    # one pass over the persisted cluster map: a cluster-keyed count,
    # then a single one-row roll-up — nothing touches document text
    plan = _plan_df(QUERIES["docs_dedup_rate_report"](spark, SF))
    assert plan.count("Exchange SinglePartition") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan

def test_moved_blocks_audit_shuffle_free(spark):
    # refactor metadata: per-row JSON extraction over the parsed wide
    # frame — the settings-audit contract: no exchange, no join
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(STAGED_QUERIES["tf_moved_blocks_audit"](spark, SF))
    assert "Exchange" not in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct", "Generate"):
        assert node not in plan


def test_alias_orphans_single_broadcast_join(spark):
    # resource side vs O(files) aggregated provider spine: one broadcast
    # resolution join, everything else per-row projection
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(STAGED_QUERIES["tf_provider_alias_orphans"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1


def test_ivf_delete_prunes_partitions_and_pushes_tombstone(spark):
    # the tombstoned probe must keep BOTH prunings stacked: the probed
    # bucket set as PartitionFilters AND the delete predicate pushed to
    # the store scan — a delete that un-prunes the index is a rebuild
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(STAGED_QUERIES["emb_ivf_delete_maintenance"](spark, SF))
    assert "CartesianProduct" not in plan
    scan_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("bucket" in l and "IN" in l for l in scan_lines), scan_lines
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("vec_id" in l for l in pushed), pushed


def test_knn_label_vote_broadcasts_topk_side(spark):
    # the |Q|·k frames broadcast into the corpus-side scans (label
    # attach + true-label attach) — an SMJ means a tiny frame shuffled
    # the corpus; the vote window is query-keyed over the top-k frame
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(STAGED_QUERIES["emb_knn_label_vote"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    assert "Exchange SinglePartition" not in plan


def test_count_foreach_expansion_shuffle_free(spark):
    # plan-size metadata: per-row JSON projection over the parsed wide
    # frame — the settings-audit contract: no exchange, no join
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(STAGED_QUERIES["tf_count_foreach_expansion"](spark, SF))
    assert "Exchange" not in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct", "Generate"):
        assert node not in plan


def test_lifecycle_audit_shuffle_free(spark):
    # lifecycle governance: per-row JSON extraction over the parsed
    # wide frame — the settings-audit contract: no exchange, no join
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(QUERIES["tf_lifecycle_audit"](spark, SF))
    assert "Exchange" not in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct", "Generate"):
        assert node not in plan


def test_legacy_interpolation_single_scan_no_join(spark):
    # source-text lint: one regexp projection + explode + block-keyed
    # agg — no join anywhere, and no Python evaluation (the regex runs
    # JVM-side via regexp_extract_all)
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(
        QUERIES["tf_legacy_interpolation_audit"](spark, SF)
    )
    for node in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan
    assert "BatchEvalPython" not in plan


def test_mannwhitney_grid_localized_no_filescan(spark):
    # contingency-grid device: the fact table is scanned once AT GRID
    # BUILD (driver-side bounded collect); the returned frame is pure
    # grid algebra over local frames — no FileScan, and the only
    # nested-loop join is the grid-sized non-equi pair join
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(QUERIES["q_lineitem_mannwhitney_u"](spark, SF))
    assert "FileScan" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "BatchEvalPython" not in plan


def test_overdispersion_single_scan_keyed_aggs(spark):
    # one pruned scan, (type, hour) keyed partial agg, type-keyed
    # roll-up; the spine attaches as the documented 1-row broadcast
    # scalar (exactly one BNLJ), no other join
    import re

    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(QUERIES["q_events_overdispersion"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # r16: the spine extremes fold into the per-type aggregate + a
    # whole-frame window over the report — the 1-row BNLJ attach (and
    # its second evaluation of the cell subtree) is gone entirely
    assert "BroadcastNestedLoopJoin" not in plan
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert len(scans) == 1  # one evaluation of the hour-cell subtree
    for sc in scans:
        cols = [c.split("#")[0] for c in sc.split(",") if c]
        assert set(cols) <= {"event_type", "ts"}, cols


def test_markov_stationary_localized_broadcast_iterations(spark):
    # bounded-collect grid: the corpus window/agg happened at build
    # time; the 3-step walk runs on exact Python ints over the
    # collected grid (r15 — previously three chained broadcast-join
    # jobs), so the returned frame is a pure local result relation:
    # no FileScan, no joins, no exchanges, no Python eval
    plan = _plan_df(
        QUERIES["q_events_markov_stationary"](spark, SF)
    )
    assert "FileScan" not in plan
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert (
        "LocalTableScan" in plan
        or "LocalRelation" in plan
        or "ExistingRDD" in plan
    )


def test_ivf_compaction_pruned_probe_no_tombstone_filter(spark):
    # the compacted store serves with static bucket pruning and NO
    # tombstone predicate — compaction converted the per-probe filter
    # into a one-time IO pass; deleted ids are physically absent
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(STAGED_QUERIES["emb_ivf_compaction"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "PartitionFilters: [bucket" in plan or "bucket#" in plan
    assert "vec_id % 8" not in plan  # the tombstone predicate is GONE


def test_unused_data_sources_single_broadcast_join(spark):
    # the _unused_decls_frame contract: one regexp projection over the
    # parsed wide frame, one small distinct-and-count, ONE broadcast
    # join onto the declaration rows — no SMJ, no cartesian, no Python
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(QUERIES["tf_unused_data_sources"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert "BatchEvalPython" not in plan


def test_kruskal_wallis_single_scan_grid_windows(spark):
    # one fact scan pruned to two columns, keyed agg to the (level ×
    # group) grid; rank windows + the num/den roll-ups all run over
    # level/group-sized frames; the final attach is the documented
    # 1-row scalar broadcast
    import re

    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(QUERIES["q_lineitem_kruskal_wallis"](spark, SF))
    assert "CartesianProduct" not in plan
    # r16: the denominator folds into the per-group aggregate (the
    # Σ_q t·x² ≡ Σ_{q,g} n·x² identity) — no join of any kind left,
    # and the grid is evaluated once
    assert "Join" not in plan
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert len(scans) == 1
    for sc in scans:
        cols = [c.split("#")[0] for c in sc.split(",") if c]
        assert set(cols) <= {"l_quantity", "l_returnflag"}, cols


def test_abc_classes_supplier_grain_windows(spark):
    # supplier-grain partial agg off one fact scan; the cumulative
    # window runs over the dimension-sized supplier frame (the pareto
    # exemption); 3-row roll-up, no join at all
    import re

    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(QUERIES["q_supplier_abc_classes"](spark, SF))
    assert "CartesianProduct" not in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin"):
        assert node not in plan
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert len(scans) == 1
    cols = [c.split("#")[0] for c in scans[0].split(",") if c]
    assert set(cols) <= {"l_suppkey", "l_extendedprice"}, cols


def test_incremental_batch_probes_store_no_corpus_retokenize(spark):
    # the ingest contract: corpus text is tokenized only for the NEW
    # batch — the old side arrives from the two store parquets (scans
    # WITHOUT a text column), every join is an equi-join, no Python
    import re

    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(QUERIES["dedup_incremental_batch"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    text_scans = [
        sc
        for sc in re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        if "text" in sc
    ]
    # documents (text) is scanned only for the new batch's two branches
    # (buckets + sets); the store scans carry no text column
    assert 1 <= len(text_scans) <= 2


def test_sign_hamming_broadcast_query_side_no_cartesian(spark):
    # the sign pass is a JVM-side projection (two shiftleft sums, no
    # Python); the Hamming ranking broadcasts the 10-row query side
    # (BNLJ over the corpus words, never CartesianProduct); the exact
    # side is ONE blocked-matmul cogroup pass; overlap + fan-back joins
    # broadcast
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(STAGED_QUERIES["emb_sign_hamming_recall"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    assert "BroadcastNestedLoopJoin" in plan


def test_cov_gram_mapinpandas_pruned_scan(spark):
    # the only corpus-sized work in emb_cov_top_eigen: the Gram pass is
    # ONE Arrow-batched mapInPandas (sanctioned dense-linear-algebra
    # path) over a scan pruned to the embedding column, combined with a
    # 4096-key agg; the column-sum leg is a JVM-side posexplode agg —
    # no row-at-a-time Python, no cartesian anywhere
    import re

    from steampipe_plugin_terraform_spark.catalog import _cov_frames, _t

    emb = _t(spark, SF, "embeddings").select("vec_id", "embedding")
    svec, gdf = _cov_frames(emb)
    gplan = _plan_df(gdf)
    assert "MapInPandas" in gplan
    assert "BatchEvalPython" not in gplan
    assert "CartesianProduct" not in gplan
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", gplan)
    assert len(scans) == 1
    cols = [c.split("#")[0] for c in scans[0].split(",") if c]
    assert set(cols) <= {"embedding"}, cols
    splan = _plan_df(svec)
    assert "BatchEvalPython" not in splan and "MapInPandas" not in splan


def test_sign_bit_balance_partial_agg_64_keys(spark):
    # posexplode feeding a 64-key grouped count: exactly one key shuffle
    # (partial aggregation collapses each partition to <= 64 rows first)
    # and NO global single-partition stage — the output is the grouped
    # frame itself
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(STAGED_QUERIES["emb_sign_bit_balance"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan
    assert "Generate" in plan  # the posexplode
    assert "HashAggregate" in plan or "SortAggregate" in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                 "BatchEvalPython", "Window"):
        assert node not in plan


def test_naming_convention_shuffle_free(spark):
    # resource metadata lint: one projection over the parsed wide frame
    # — no exchange, no join (the MapInPandas is the HCL parse itself)
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(STAGED_QUERIES["tf_resource_naming_convention"](spark, SF))
    assert "Exchange" not in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan


def test_norm_buckets_fold_no_shuffle_before_spine_agg(spark):
    # the norm fold is a JVM higher-order projection: NO Generate (no
    # explode), no Python; one bucket-keyed exchange (partial-agg
    # collapsed) + the share window's single-partition stage over the
    # post-agg bucket frame; the scan prunes to the embedding column
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(STAGED_QUERIES["emb_norm_buckets"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange SinglePartition") == 1
    assert plan.count("Window") == 1
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                 "BatchEvalPython", "Generate", "MapInPandas"):
        assert node not in plan
    assert "ReadSchema: struct<embedding:array<float>>" in plan


def test_variable_type_mismatch_shuffle_free(spark):
    # settings-audit plan shape: one projection over the parsed wide
    # frame — no exchange, no join (the MapInPandas is the HCL parse)
    from steampipe_plugin_terraform_spark.catalog import STAGED_QUERIES

    plan = _plan_df(STAGED_QUERIES["tf_variable_type_mismatch"](spark, SF))
    assert "Exchange" not in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan


# ---- r15 optimization-round pins ----


def test_jaccard_single_documents_scan(spark):
    """r15 posting-list restructure: the Jaccard denominator (n_sh) rides
    the posting rows, so the pair pipeline tokenizes the corpus ONCE — a
    second Scan (the old sizes subtree re-deriving every shingle hash) is
    the regression this pins against."""
    plan = _plan(spark, "dedup_jaccard_pairs")
    assert plan.count("Scan parquet") == 1


def test_tfidf_single_tokenize_no_norm_joins(spark):
    """r15 tfidf restructure: df comes from a count window over h (no
    dfreq join to duplicate the tf subtree into a broadcast build) and
    each doc's norm rides the posting rows (no norms joins). The old
    shape planned 9 documents scans and SIX full n-gram tokenize passes
    with zero exchange reuse (plans/r15/dedup_tfidf_cosine_pairs_before
    .txt); this pins the corpus to ONE tokenize pass and two scans (the
    pipeline + the 1-row n_docs scalar), with no join but the sanctioned
    scalar cross build."""
    plan = _plan(spark, "dedup_tfidf_cosine_pairs")
    tokenize_gens = [
        l for l in plan.splitlines() if "Generate" in l and "split(text" in l
    ]
    assert len(tokenize_gens) == 1
    assert plan.count("Scan parquet") == 2
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan


def test_shingle_explode_has_no_inferred_prefilter(spark):
    """The shingle explode's child must stay an EXPRESSION over the stored
    array: with a bare attribute child, InferFiltersFromGenerate adds a
    size()>0 filter whose alias-substituted form predicate pushdown moves
    below the spread exchange — re-evaluating the whole tokenize+hash
    transform twice per doc on the unspread scan partition (measured
    1.8 s -> 5.1 s on the jaccard entry at sf0.1)."""
    for name in ("dedup_jaccard_pairs", "dedup_minhash_lsh"):
        plan = _plan(spark, name)
        assert not any(
            "Filter" in line and "xxhash64" in line for line in plan.splitlines()
        ), name


def test_cheap_relational_aggregation_has_no_spread_exchange(spark):
    """r15 spread policy: relational tables no longer pay the blanket
    round-robin spread (the first REAL shuffle redistributes anyway and
    partial aggregation parallelizes after it; measured q1 0.838 s with
    the spread vs 0.221 s without). One Exchange total for q1: the
    aggregation's hash exchange."""
    plan = _plan(spark, "q1_pricing_summary")
    assert "RoundRobinPartitioning" not in plan
    assert plan.count("Exchange") == 1


def test_per_row_heavy_operators_keep_their_spread(spark):
    """The scan-parallelism spread lives in the per-row-heavy operators
    (narrow projection, gated) — not on the table reader. Zero-shuffle
    operators whose per-row work is expensive (regex chain, n-gram
    sort+scan, Arrow media decode) must still show the gated round-robin
    on single-split input, or they serialize on one core."""
    for name in ("docs_redact_pii", "docs_repetition", "media_metadata",
                 "emb_quantize_int8"):
        plan = _plan(spark, name)
        assert "RoundRobinPartitioning" in plan, name


def test_winnow_staged_projections_survive_and_no_aggregate_shuffle(spark):
    """docs_winnow_fingerprint (r15): the k-gram hash array and the
    window-min array are STAGED columns (CollapseProject must not
    re-inline them — each is multiply-referenced), and the per-doc
    reduction happens in-row, so the only exchange is the gated
    round-robin spread of the narrow projection — no groupBy shuffle
    of exploded hash rows."""
    plan = _plan(spark, "docs_winnow_fingerprint")
    assert "__gr" in plan and "__w" in plan
    assert plan.count("RoundRobinPartitioning") == 1
    assert "hashpartitioning" not in plan
    assert "Generate" not in plan  # no explode left


def test_cheap_text_scans_skip_the_spread(spark):
    """Cheap-per-row document queries no longer pay the table-level spread
    (measured: token_stats 0.47x, bm25 0.53x faster without it — the
    first real shuffle parallelizes the aggregation either way)."""
    plan = _plan(spark, "docs_token_stats")
    assert "RoundRobinPartitioning" not in plan


# ---- round-16 pins ----


def test_minhash_family_reads_one_posting_checkpoint(spark):
    """r16 (verdict item 2): dedup_minhash_lsh evaluated the corpus
    tokenize three times at runtime (signature pass + the two verify-set
    subtrees split by the overcap broadcast boundary) and six times
    statically. The shared _minhash_posting_base localCheckpoint now
    serves signature AND verify sets: the declared query plan reads the
    materialized rows only — zero parquet scans (the one scan+tokenize
    lives in the checkpoint build job)."""
    plan = _plan(spark, "dedup_minhash_lsh")
    assert "ExistingRDD" in plan
    assert "Scan parquet" not in plan


def test_stream_state_partitions_sized_by_volume():
    """r16 (verdict item 3): drain state partitions derive from source
    bytes (one per 32 MiB by default), capped at the session's
    configured shuffle.partitions and floored at 1 — never sized by
    core count, which the r15 driver data showed anti-scaling (4.6 s at
    8 state partitions vs 9.0 s at 32 on identical data)."""
    from unittest.mock import patch

    from steampipe_plugin_terraform_spark import catalog

    class FakeConf:
        def get(self, key, default=None):
            return {"spark.sql.shuffle.partitions": "32"}.get(key, default)

    class FakeSpark:
        conf = FakeConf()

    with patch.object(catalog.os.path, "isdir", return_value=False):
        with patch.object(catalog.os.path, "getsize", return_value=2_000_000):
            assert catalog._stream_state_partitions(FakeSpark(), "x") == 1
        with patch.object(catalog.os.path, "getsize", return_value=(32 << 20) + 1):
            assert catalog._stream_state_partitions(FakeSpark(), "x") == 2
        with patch.object(catalog.os.path, "getsize", return_value=1 << 40):
            # capped at the session's configured parallelism
            assert catalog._stream_state_partitions(FakeSpark(), "x") == 32
        with patch.object(catalog.os.path, "getsize", side_effect=OSError):
            assert catalog._stream_state_partitions(FakeSpark(), "x") is None


def test_r16_single_evaluation_restructures(spark):
    """r16 batch (guide §2.4): each of these entries evaluated a shared
    subtree 2-3x (a scalar/median/truth aggregate broadcast back onto a
    second evaluation of the same frame, or a unionAll of two
    projections of one aggregate). The restructures carry the scalar as
    a whole-frame window / origin-flag / folded aggregate instead — the
    fact table now appears EXACTLY ONCE in each declared plan."""
    single_scan = {
        "q_events_funnel": "events.parquet",
        "q_events_sliding_distinct_users": "events.parquet",
        "q_events_stickiness": "events.parquet",
        "q_events_overdispersion": "events.parquet",
        "q_orders_open_interval_sweep": "orders.parquet",
        "q_lineitem_kruskal_wallis": "lineitem.parquet",
        "q_bloom_semi_join": "orders.parquet",
    }
    for name, table in single_scan.items():
        plan = _plan(spark, name)
        assert plan.count(table) == 1, name
    # funnel and stickiness additionally lost their stage joins outright
    assert "Join" not in _plan(spark, "q_events_funnel")
    assert "Join" not in _plan(spark, "q_events_stickiness")
