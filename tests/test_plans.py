"""Physical-plan assertions (SURVEY.md §5.3.2).

Correctness tests prove WHAT is computed; these prove HOW — the plan
properties that make the same query viable at 100 TB:

  * dimension joins broadcast (no shuffle of the fact side's join),
  * filters and column projections reach the parquet scan
    (PushedFilters / ReadSchema), so row groups are skipped and unread
    columns never leave the file,
  * grouped top-k inserts WindowGroupLimit (per-partition k-row
    pre-filter before the shuffle),
  * global top-k runs as TakeOrderedAndProject (per-partition heaps, no
    full sort),
  * the hot relational path stays inside WholeStageCodegen.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bangdatapipeline_spark.registry import load_all
from bangdatapipeline_spark.tables import load_table

REGISTRY = load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dim_join_broadcasts(spark, sf_dir):
    plan = _plan(REGISTRY["join_inner_equi"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_multiway_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(REGISTRY["join_multiway"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the snowflake dims (region/nation) must never sort-merge
    assert plan.count("SortMergeJoin") <= 1, plan[:3000]


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity,40" in plan, plan[:2000]


def test_column_pruning_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    plan = _plan(q)
    # ReadSchema must contain only the two projected columns
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema, read_schema


def test_grouped_topk_uses_window_group_limit(spark, sf_dir):
    plan = _plan(REGISTRY["win_topk_per_group"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan[:2000]


# Global top-k keys that rank-filter an UNPARTITIONED row_number window:
# each relies on Catalyst bounding the single-partition sort — either
# LimitPushDownThroughWindow rewriting it to TakeOrderedAndProject
# (per-partition heaps) or InferWindowGroupLimit capping per-partition
# input at k. VERDICT r7 task 6: these rewrites were load-bearing but
# unpinned, so a rewrite-breaking change (e.g. rank -> ntile, or a
# projection between filter and window) would silently reintroduce a
# full global sort. text_zipf_fit and multimodal_shard_plan are NOT
# here: they rank every row (no k-filter), so no group limit can apply —
# their windows run over already-aggregated bounded tables by design.
_GLOBAL_TOPK_KEYS = [
    "text_vocab",
    "retrieval_rrf_hybrid",
    "text_bpe_pair_counts",
    "text_ngram_topk",
    "dq_hot_keys",
    "dq_bot_rate_suspects",
    "graph_neighbor_jaccard",
    "graph_neighbor_minhash",
    "emb_knn_outlier",
    "text_repeated_spans",
    "text_collocation_pmi",
    "knn_matryoshka_topk",  # r8: both rank<=K passes must stay group-limited
]


@pytest.mark.parametrize("key", _GLOBAL_TOPK_KEYS)
def test_global_rank_filter_windows_are_bounded(spark, sf_dir, key):
    plan = _plan(REGISTRY[key].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan, (
        f"{key}: global rank-filter window lost its bounded-sort rewrite\n"
        + plan[:2000]
    )


def test_global_topk_avoids_full_sort(spark, sf_dir):
    plan = _plan(REGISTRY["topk_limit"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_flagship_agg_is_codegen_partial_final(spark, sf_dir):
    df = REGISTRY["agg_groupby"].fn(spark, sf_dir)
    df.collect()  # AQE finalizes (and codegen-wraps) the plan on execution
    plan = _plan(df)
    # codegen stages render as "*(n) Operator" in the compact plan string
    assert "*(" in plan or "WholeStageCodegen" in plan
    # partial + final hash aggregation (map-side combine before shuffle)
    assert plan.count("HashAggregate") >= 2, plan[:2000]


def test_knn_broadcasts_query_side(spark, sf_dir):
    plan = _plan(REGISTRY["knn_cosine_topk"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan[:2000]


def test_threshold_gemm_tiled_no_cartesian_no_collect(spark, sf_dir):
    """The tiled GEMM self-join is fully distributed: one grouped-map
    kernel per block-pair tile, a single exchange on the tile key, and no
    cartesian product / driver-side corpus materialization anywhere."""
    plan = _plan(REGISTRY["knn_threshold_gemm"].fn(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_train_prep_and_basket_lift_construct_lazily(spark, sf_dir):
    """Constructing these plans must trigger NO Spark job (the round-1
    forms eagerly ran toPandas()/count() at construction time): the
    GEMM dedup stage appears as an in-plan grouped-map kernel and the
    basket scalar as a lazy broadcast aggregate."""
    # warm the table-loader cache: first-touch parquet footer reads are
    # legitimate metadata jobs, not operator eagerness
    REGISTRY["pipeline_train_prep"].fn(spark, sf_dir)
    REGISTRY["graph_basket_lift"].fn(spark, sf_dir)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "lazy-construct-check")
    try:
        prep = REGISTRY["pipeline_train_prep"].fn(spark, sf_dir)
        basket = REGISTRY["graph_basket_lift"].fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("lazy-construct-check")
    assert list(jobs) == [], f"construction ran Spark jobs: {jobs}"
    assert "FlatMapGroupsInPandas" in _plan(prep)
    assert "BroadcastHashJoin" in _plan(basket)


def test_gemm_topk_shuffles_candidates_only(spark, sf_dir):
    """The GEMM top-k's only exchange is the candidate set keyed on q_id
    (for the global top-k window) — the corpus itself never shuffles."""
    plan = _plan(REGISTRY["knn_gemm_topk"].fn(spark, sf_dir))
    assert "MapInPandas" in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    # the exchange must sit ABOVE the mapInPandas (candidates), not below
    assert plan.index("Exchange hashpartitioning") < plan.index("MapInPandas"), plan[:3000]


def test_chunking_is_shuffle_free(spark, sf_dir):
    """Sliding-window chunking is pure narrow ops: no Exchange anywhere."""
    plan = _plan(REGISTRY["text_chunk_sliding"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan[:2000]


def test_rep_ngram_is_shuffle_free(spark, sf_dir):
    plan = _plan(REGISTRY["text_rep_ngram"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan[:2000]


def test_hash_sample_is_scan_stage_filter(spark, sf_dir):
    """The md5-gate sample is a per-row filter fused into the scan's
    codegen stage — no shuffle, no extra stage."""
    plan = _plan(REGISTRY["sample_hash_det"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan[:2000]
    assert "Filter" in plan


def test_pack_sequences_reuses_window_partitioning(spark, sf_dir):
    """Packing shuffles once on lang for the prefix-sum window; the
    following per-(lang,bin) agg must NOT add a second hashpartitioning
    exchange on the full data (only AQE's final coalesce may appear)."""
    df = REGISTRY["pack_sequences"].fn(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:3000]
    assert "Window" in plan


def test_q8_broadcasts_all_dims_single_exchange(spark, sf_dir):
    """TPC-H Q8's eight-table join must broadcast every dimension: the
    only hashpartitioning exchange in the plan is the final (o_year)
    aggregate. A second exchange would mean a fact-side shuffle join."""
    plan = _plan(REGISTRY["sql_api_q8"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 7, plan[:3000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_q21_exists_rewrites_to_semi_and_anti(spark, sf_dir):
    """Q21's EXISTS / NOT EXISTS self-correlations must plan as left-semi
    and left-anti joins (never a per-row subquery re-execution)."""
    plan = _plan(REGISTRY["sql_api_q21"].fn(spark, sf_dir))
    assert "LeftSemi" in plan, plan[:3000]
    assert "LeftAnti" in plan, plan[:3000]


def test_bigrams_single_shuffle_no_self_join(spark, sf_dir):
    """Bigrams are paired in-row (zip_with over the token array), so the
    plan has NO join and exactly the aggregation/window exchanges — not
    the oracle's positional self-join."""
    plan = _plan(REGISTRY["text_bigrams"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]


def test_winsorize_percentiles_broadcast_back(spark, sf_dir):
    """The #groups-sized percentile table must broadcast onto the fact
    scan — no sort-merge shuffle of the event stream for the clip."""
    plan = _plan(REGISTRY["agg_winsorize"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_pagerank_iterations_broadcast_ranks(spark, sf_dir):
    """Every PageRank round joins the O(|V|) rank table by BROADCAST onto
    the cached edge structure: 3 iterations -> 3 broadcast joins, and the
    cached graph is never re-shuffled (no SortMergeJoin anywhere)."""
    plan = _plan(REGISTRY["graph_pagerank"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "InMemoryTableScan" in plan, plan[:3000]


def test_trade_graph_build_scans_lineitem_once(spark, sf_dir):
    """The shared trade-graph build derives both edge directions from one
    distinct (customer, supplier) edge list, so its final plan scans
    lineitem once: one broadcast (orders) and two shuffles (the distinct,
    then the src repartition), no degree side."""
    from bangdatapipeline_spark.operators.graph_analytics import _trade_edges

    edges, _n = _trade_edges(spark, sf_dir)
    edges.count()  # materialize the cache: the final plan is decided at run time
    cached = (
        edges._jdf.queryExecution().withCachedData().cacheBuilder().cachedPlan()
    ).toString()
    final = cached.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final[:3000]
    assert final.count("lineitem.parquet") == 1, final
    assert final.count("BroadcastExchange") == 1, final
    assert final.count("Exchange hashpartitioning") == 2, final
    assert "ReusedExchange" not in final, final


def _final_nodes(plan) -> list[str]:
    """Class names of an executed plan's nodes, through AQE wrappers and
    query stages, NOT into cached relations (their build is not part of
    the query that reads them)."""
    name = plan.getClass().getSimpleName()
    if name == "InMemoryTableScanExec":
        return [name]
    if name == "AdaptiveSparkPlanExec":
        return [name] + _final_nodes(plan.executedPlan())
    if name.endswith("QueryStageExec"):
        return [name] + _final_nodes(plan.plan())
    kids = plan.children()
    return [name] + [n for i in range(kids.size()) for n in _final_nodes(kids.apply(i))]


def test_pagerank_rounds_gather_at_src_without_shuffle(spark, sf_dir):
    """PageRank rounds aggregate by src, the key the cached edge list is
    hash-partitioned by, so once it has run the final plan has no shuffle
    outside the cached build (a groupBy(dst) round adds one exchange)."""
    df = REGISTRY["graph_pagerank"].fn(spark, sf_dir)
    df.toPandas()
    nodes = _final_nodes(df._jdf.queryExecution().executedPlan())
    assert "InMemoryTableScanExec" in nodes, nodes
    assert "ShuffleExchangeExec" not in nodes, nodes


def test_kmeans_assignment_broadcasts_centroids(spark, sf_dir):
    """Both k-means assignment rounds broadcast the k-row centroid table
    against the streamed corpus (BroadcastNestedLoopJoin for the
    crossJoin) — the corpus itself is never shuffled for assignment."""
    plan = _plan(REGISTRY["ml_kmeans_2iter"].fn(spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") >= 2, plan[:3000]


def test_split_gate_is_scan_stage_expression(spark, sf_dir):
    """The train/val/test gate is a projection over the scan; the only
    exchange is the tiny lang x split aggregation (plus its window)."""
    plan = _plan(REGISTRY["sample_split"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]


def test_redact_is_pure_scan_stage(spark, sf_dir):
    plan = _plan(REGISTRY["text_redact_pii"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan[:2000]


def test_bucketed_join_has_no_exchange_no_sort(spark, sf_dir, tmp_path):
    """Co-located sort-merge join: both sides bucketed+sorted on the join
    key -> the SMJ runs with zero Exchange (always), and with zero
    per-query Sort once the scan is allowed to trust the per-bucket sort
    order (`spark.sql.legacy.bucketedTableScan.outputOrdering` — safe
    here because write_bucketed repartitions to exactly one file per
    bucket, the invariant whose violation made Spark 3.0 stop trusting
    it by default). This is the pre-paid-shuffle pattern that makes
    recurring 100 TB fact-fact joins cheap."""
    from bangdatapipeline_spark.sources import write_bucketed

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    write_bucketed(o, "b_orders", str(tmp_path / "bo"), ["o_custkey"])
    write_bucketed(c, "b_customer", str(tmp_path / "bc"), ["c_custkey"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "Exchange" not in plan, plan[:2000]

        # opt in to sorted-bucket scans -> the Sorts disappear too
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        try:
            plan2 = _plan(
                spark.table("b_orders").join(
                    spark.table("b_customer"),
                    F.col("o_custkey") == F.col("c_custkey"),
                )
            )
            assert "Exchange" not in plan2, plan2[:2000]
            assert "Sort " not in plan2.replace("SortMergeJoin", "SMJ"), plan2[:2000]
        finally:
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
            )
        # same rows as the plain (shuffled) join
        assert j.count() == o.join(c, o.o_custkey == c.c_custkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_salted_join_spreads_hot_keys(spark, sf_dir):
    """The salted join must shuffle on (key, salt) — not key alone — and
    run as a shuffled hash join (no broadcast, which would hide the
    skew-splitting demonstration)."""
    plan = _plan(REGISTRY["join_salted_skew"].fn(spark, sf_dir))
    assert "ShuffledHashJoin" in plan, plan[:3000]
    assert "BroadcastHashJoin" not in plan, plan[:3000]
    assert "Exchange" in plan, plan[:3000]
    assert "_salt" in plan[plan.index("Exchange"):], plan[:3000]


def test_pit_join_broadcasts_history(spark, sf_dir):
    """The SCD2 history is dimension-sized: it must broadcast with the
    range residual on the hash join — no fact-side sort-merge."""
    plan = _plan(REGISTRY["join_temporal_pit"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_basket_lift_broadcasts_marginals(spark, sf_dir):
    """Part marginal counts are dimension-sized: both rejoin onto the
    pair table as broadcasts, and the top-k is TakeOrderedAndProject."""
    plan = _plan(REGISTRY["graph_basket_lift"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:3000]
    assert "TakeOrderedAndProject" in plan, plan[:3000]


def test_repeated_spans_no_join_take_ordered(spark, sf_dir):
    """Spans form in-row: no join anywhere; global top-k avoids a full
    sort via TakeOrderedAndProject."""
    plan = _plan(REGISTRY["text_repeated_spans"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert "TakeOrderedAndProject" in plan, plan[:3000]


def test_cms_sketch_partial_aggregates(spark, sf_dir):
    """The 256-cell counter grid must partial-aggregate (map-side combine
    before its shuffle) — the property that makes sketch state O(1)."""
    df = REGISTRY["agg_cms_heavy_hitters"].fn(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2, plan[:3000]


def test_triangles_orientation_broadcasts(spark, sf_dir):
    """Degree table and closing-edge probe both broadcast; the wedge
    self-join is the only fact-scale exchange."""
    plan = _plan(REGISTRY["graph_triangles"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan[:3000]


def test_triangle_adjacency_broadcast_is_size_gated(spark, sf_dir, monkeypatch):
    """Above the size gate the adjacency joins must NOT broadcast — the
    hint is withheld and Catalyst plans shuffled sort-merge joins on the
    node key (the 100 TB fallback). Forcing the gate to 0 simulates a
    too-big adjacency; same operators, same oracles, different join
    strategy only."""
    monkeypatch.setenv("BDP_BROADCAST_MAX_BYTES", "0")
    # also suppress Catalyst's stats-based auto-broadcast: at survey scale
    # the (materialized, cached) adjacency is tiny enough that Catalyst
    # would broadcast it even WITHOUT the hint — at the simulated scale its
    # stats would exceed the threshold, which this conf emulates.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for key in ("graph_triangles", "graph_neighbor_jaccard"):
            plan = _plan(REGISTRY[key].fn(spark, sf_dir))
            assert "SortMergeJoin" in plan, (
                f"{key}: no shuffled join above gate\n{plan[:3000]}"
            )
        # and the gated plan still computes the same answer (sf0.001: cheap)
        import oracle as _oracle

        ok, msg = _oracle.compare_query(
            spark, REGISTRY["graph_triangles"], "/root/testdata/sf0.001"
        )
        assert ok, msg
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_semantic_dedup_runs_per_cluster_gemm(spark, sf_dir):
    """The SemDeDup pair pass must be the per-cluster Arrow-grouped GEMM
    (FlatMapGroupsInPandas after one c_id shuffle) — never a pair
    self-join of the corpus (no SortMergeJoin anywhere in the plan)."""
    plan = _plan(REGISTRY["dedup_semantic_clustered"].fn(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_decontaminate_tiled_no_broadcast_no_collect(spark, sf_dir):
    """The cross-table GEMM form must contain no nested-loop/broadcast
    pair pass — both relations stream into Arrow tile groups."""
    plan = _plan(REGISTRY["decontaminate_semantic_tiled"].fn(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_gopher_rules_single_scan_no_shuffle(spark, sf_dir):
    """The quality gate must be one scan-stage projection: no Exchange,
    no join — even the max-word-frequency counter stays in-row."""
    plan = _plan(REGISTRY["text_gopher_rules"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_dsir_model_broadcasts_onto_token_stream(spark, sf_dir):
    """The 64-row hashed-unigram model must broadcast into the scoring
    join — the token stream (the 100 TB side) never shuffles for it."""
    plan = _plan(REGISTRY["sample_importance_dsir"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_skyline_sweep_not_quadratic(spark, sf_dir):
    """The skyline must run as the aggregated sort-sweep + broadcast
    rejoin — never the oracle's O(n^2) NOT EXISTS self-join."""
    plan = _plan(REGISTRY["skyline_pareto"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_decontaminate_joins_on_shingle_keys(spark, sf_dir):
    """Decontamination is an equi-join on shingle keys after per-side
    DISTINCT — no cartesian pairing of documents."""
    plan = _plan(REGISTRY["decontaminate_ngram"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    # dedup before the join: at least two aggregates (distinct sides)
    assert plan.count("HashAggregate") >= 2, plan[:3000]


def test_drift_psi_reduces_before_compare(spark, sf_dir):
    """PSI compares bin-level aggregates: the only join inputs are the
    10-row bin spines (broadcast), never raw orders."""
    plan = _plan(REGISTRY["dq_drift_psi"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the cross-shard combine and the 1-row totals join both broadcast
    assert "Broadcast" in plan, plan[:3000]


def test_cdc_merge_compacts_changelog_first(spark, sf_dir):
    """Latest-wins compaction must be a row_number window (deterministic),
    and the merge a full-outer join keyed on the merge key."""
    plan = _plan(REGISTRY["merge_cdc_upsert"].fn(spark, sf_dir))
    assert "Window" in plan, plan[:3000]
    assert "FullOuter" in plan, plan[:3000]


def test_interpolate_windows_share_user_partitioning(spark, sf_dir):
    """Both carry windows partition by user_id: after the spine join
    there must be no extra exchange between the two window passes."""
    plan = _plan(REGISTRY["ts_interpolate_linear"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # two directional window passes, back-to-back
    windows = plan.count("RunningWindowFunction") + plan.count("Window")
    assert windows >= 1, plan[:3000]


def test_ohlc_is_one_aggregate_no_window(spark, sf_dir):
    """The struct min/max pick makes the whole bar ONE aggregate: no
    window pass, a single shuffle on the bar key, and map-side partial
    aggregation (partial_min of the ord struct)."""
    plan = _plan(REGISTRY["ts_ohlc_resample"].fn(spark, sf_dir))
    assert "Window" not in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "partial_min" in plan, plan[:3000]


def test_range_join_bucketed_not_nested_loop(spark, sf_dir):
    """The pure range join must run as a hash equi-join on grid cells —
    never the BroadcastNestedLoopJoin Spark would plan for a raw theta
    join."""
    plan = _plan(REGISTRY["join_range_bucketed"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan
    assert "Join" in plan, plan[:3000]


def test_bloom_prefilter_fact_never_shuffles(spark, sf_dir):
    """The bloom gate must evaluate fact-side: the only LOGICAL
    hash-partition Exchange is the final 7-row year rollup; the dim bits
    and the dim join both broadcast. (tables.spread's deterministic
    pmod(xxhash64) rebalance of the projected fact is a parallelization
    exchange, not a join/agg shuffle — excluded from the count.)"""
    plan = _plan(REGISTRY["join_bloom_prefilter"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan[:3000]
    n_hash = plan.count("Exchange hashpartitioning")
    # r13 (ADVICE r12): only EXPLICIT spread rebalances are excluded —
    # the line must carry the REPARTITION_BY_NUM shuffle origin, so a
    # future genuine join/agg shuffle (ENSURE_REQUIREMENTS) that happens
    # to partition on a pmod(xxhash64(...)) expression still counts.
    n_spread = sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning(pmod(xxhash64" in line
        and "REPARTITION_BY_NUM" in line
    )
    assert n_hash - n_spread <= 1, plan[:3000]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_incremental_merge_final_shuffle_is_state_rows(spark, sf_dir):
    """Both sides pre-aggregate before the union: the plan must show
    partial aggregation under each scan (map-side state) and no join —
    the merge is a pure union + re-aggregate."""
    plan = _plan(REGISTRY["incremental_agg_merge"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:3000]
    assert "Union" in plan, plan[:3000]
    assert "partial_sum" in plan or "partial_count" in plan, plan[:3000]


def test_mmr_candidate_stage_computed_once(spark, sf_dir):
    """The MMR candidate stage feeds five consumers; the pin must show up
    as InMemoryRelation reuse (one computation) rather than five
    re-derivations of the crossJoin+window lineage — the r3 bench's
    slowest query until cached."""
    df = REGISTRY["knn_mmr_diversify"].fn(spark, sf_dir)
    try:
        plan = _plan(df)
        # both the candidate stage and the pair table must be pinned:
        # InMemoryTableScan at each consumer site means the runtime
        # computes each lineage once (the plan text repeats the cached
        # child under every scan site, so occurrence counts of inner
        # operators prove nothing — the relation itself is the pin).
        assert "InMemoryRelation" in plan, plan[:3000]
        assert plan.count("InMemoryTableScan") >= 4, plan[:3000]
    finally:
        spark.catalog.clearCache()


def test_rank_eval_ranker_outputs_cached(spark, sf_dir):
    """eval_rank_metrics composes two full ranker plans (ANN + exact);
    both outputs are k rows/query and must be pinned so the join +
    aggregate reads cached data instead of recomputing both lineages
    (the one r2->r3 bench regression)."""
    df = REGISTRY["eval_rank_metrics"].fn(spark, sf_dir)
    try:
        plan = _plan(df)
        assert plan.count("InMemoryTableScan") >= 2, plan[:3000]
    finally:
        spark.catalog.clearCache()


def test_sequence_gaps_windows_only_boundary_lists(spark, sf_dir):
    """The gap detector must find boundaries via anti-joins, not sort the
    raw key stream: the plan's Window/Sort operators sit ABOVE the
    LeftAnti joins (boundary lists), and the key scans reach parquet with
    the status filter pushed."""
    plan = _plan(REGISTRY["dq_sequence_gaps"].fn(spark, sf_dir))
    assert plan.count("LeftAnti") == 2, plan[:3000]
    assert "PushedFilters" in plan
    # windows exist (the boundary pairing) but only two, one per list
    assert plan.count("Window") == 2


def test_hits_supersteps_broadcast_scores(spark, sf_dir):
    """Every HITS superstep joins the |V|-row score table via broadcast —
    the cached edge list must never be shuffled for a join (the only
    exchanges are the bounded per-node aggregates). r12: a2 is consumed
    twice (h2's broadcast lineage + the final full-outer side), so it
    must be pinned (InMemoryRelation) to execute its chain once."""
    df = REGISTRY["graph_hits_counts"].fn(spark, sf_dir)
    try:
        plan = _plan(df)
        assert plan.count("BroadcastHashJoin") >= 3, plan[:3000]
        assert "InMemoryRelation" in plan, plan[:3000]
        # the only merge join allowed is the final full-outer of the two
        # |V|-row score tables — never an edge-list join
        assert plan.count("SortMergeJoin") <= 1
        assert "SortMergeJoin" not in plan.split("FullOuter")[-1]
    finally:
        spark.catalog.clearCache()


def test_rerank_pool_join_broadcasts(spark, sf_dir):
    """Two-stage rerank: the exact stage joins the tiny candidate pool to
    the fp vectors with hash joins (broadcast query side), never a
    cartesian; stage 1 is the Arrow mapInPandas kernel."""
    plan = _plan(REGISTRY["knn_rerank_two_stage"].fn(spark, sf_dir))
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_reconciliation_preaggregates_detail_side(spark, sf_dir):
    """The lineitem side must partial-aggregate to one row per order
    BEFORE meeting orders: a HashAggregate appears below the join on the
    detail branch (shuffle keyed on orders, not line items)."""
    plan = _plan(REGISTRY["dq_reconciliation"].fn(spark, sf_dir))
    join_pos = min(
        p for p in (plan.find("SortMergeJoin"), plan.find("ShuffledHashJoin"),
                    plan.find("BroadcastHashJoin")) if p >= 0
    )
    assert "HashAggregate" in plan[join_pos:], plan[:3000]


def test_max_silence_two_level_no_global_feed_sort(spark, sf_dir):
    """Feed-silence audit: stage 1 windows partition by (type, day) —
    fine-grained keys — and stage 2 only sees bucket summaries; the plan
    carries exactly two Window operators and no exchange re-sorts the raw
    stream by type alone before the first window."""
    plan = _plan(REGISTRY["ts_max_silence"].fn(spark, sf_dir))
    assert plan.count("Window") == 2, plan[:3000]


def test_plans_doc_is_fresh_at_current_tree():
    """VERDICT r10 task 3 — docs/PLANS.md certifies the plan shapes of a
    specific operator tree; a stale doc (r10 shipped one a full round of
    rewrites behind) silently mis-documents the shipped plans. The doc
    carries a content-addressed source_hash stamp (same formula as the
    SWEEP freshness gate); regenerate via `python scripts/probe.py plans`
    when this fails."""
    import os
    import re
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "docs", "PLANS.md")
    assert os.path.exists(path), "docs/PLANS.md missing"
    with open(path) as f:
        head = f.read(4096)
    m = re.search(r"<!-- source_hash: ([0-9a-f]{32}) -->", head)
    assert m, (
        "docs/PLANS.md has no source_hash stamp — regenerate via "
        "`python scripts/probe.py plans`"
    )
    scripts = os.path.join(root, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import _evidence

    assert _evidence.source_tree_hash(root) == m.group(1), (
        "docs/PLANS.md is stale relative to the live operator tree — "
        "re-run `python scripts/probe.py plans` before closing the round"
    )


# ``explain("formatted")`` of join_multiway at sf0.01 (detail bodies cut to
# their ``(id) Name`` headers): one shuffle, five broadcasts, five
# broadcast-hash joins. Every node appears twice, in the tree and in the
# numbered detail block.
_JOIN_MULTIWAY_FORMATTED = """\
== Physical Plan ==
AdaptiveSparkPlan (33)
+- HashAggregate (32)
   +- Exchange (31)
      +- HashAggregate (30)
         +- Project (29)
            +- BroadcastHashJoin Inner BuildRight (28)
               :- Project (24)
               :  +- BroadcastHashJoin Inner BuildRight (23)
               :     :- Project (19)
               :     :  +- BroadcastHashJoin Inner BuildRight (18)
               :     :     :- Project (13)
               :     :     :  +- BroadcastHashJoin Inner BuildRight (12)
               :     :     :     :- Project (8)
               :     :     :     :  +- BroadcastHashJoin Inner BuildLeft (7)
               :     :     :     :     :- BroadcastExchange (4)
               :     :     :     :     :  +- Project (3)
               :     :     :     :     :     +- Filter (2)
               :     :     :     :     :        +- Scan parquet  (1)
               :     :     :     :     +- Filter (6)
               :     :     :     :        +- Scan parquet  (5)
               :     :     :     +- BroadcastExchange (11)
               :     :     :        +- Filter (10)
               :     :     :           +- Scan parquet  (9)
               :     :     +- BroadcastExchange (17)
               :     :        +- Project (16)
               :     :           +- Filter (15)
               :     :              +- Scan parquet  (14)
               :     +- BroadcastExchange (22)
               :        +- Filter (21)
               :           +- Scan parquet  (20)
               +- BroadcastExchange (27)
                  +- Filter (26)
                     +- Scan parquet  (25)


(1) Scan parquet

(2) Filter

(3) Project

(4) BroadcastExchange

(5) Scan parquet

(6) Filter

(7) BroadcastHashJoin

(8) Project

(9) Scan parquet

(10) Filter

(11) BroadcastExchange

(12) BroadcastHashJoin

(13) Project

(14) Scan parquet

(15) Filter

(16) Project

(17) BroadcastExchange

(18) BroadcastHashJoin

(19) Project

(20) Scan parquet

(21) Filter

(22) BroadcastExchange

(23) BroadcastHashJoin

(24) Project

(25) Scan parquet

(26) Filter

(27) BroadcastExchange

(28) BroadcastHashJoin

(29) Project

(30) HashAggregate

(31) Exchange

(32) HashAggregate

(33) AdaptiveSparkPlan
"""


def _probe():
    """scripts/probe.py loaded by path (perfbench/ has a probe module too)."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "scripts", "probe.py")
    spec = importlib.util.spec_from_file_location("scripts_probe", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_plan_shape_counts_each_node_once():
    """The plan-shape counter behind docs/PLANS.md counts each node once
    (a regex over the whole text sees every node twice; subtracting the
    BroadcastExchange hits from the Exchange hits then gives -8 here) and
    keeps shuffle and broadcast exchanges apart. Spark-free."""
    counts = _probe().plan_shape(_JOIN_MULTIWAY_FORMATTED)
    assert (counts["shuffle"], counts["bcast"], counts["BHJ"]) == (1, 5, 5), counts
    assert counts["scan"] == 6 and counts["SMJ"] == counts["reused"] == 0, counts


def test_plan_shape_rows_are_byte_stable(spark, sf_dir):
    """Regenerating docs/PLANS.md at an unchanged tree must give the same
    bytes: the rows carry counts, never AQE stage ids or plan_ids, and a
    row does not depend on which rows came before it.
    graph_label_propagation runs supersteps while it builds its plan,
    materializing a substrate that graph_walks_det's plan also reads
    (AQE-final once materialized); each row is planned after a cache
    release, so graph_walks_det's row is the same alone and after it."""
    from bangdatapipeline_spark import caches

    probe = _probe()
    keys = ["graph_label_propagation", "graph_walks_det"]
    assert set(keys) <= {k for k, _ in probe.showcase()}
    caches.release(spark)  # the clean session a fresh `probe.py plans` has
    alone = probe.plan_rows(spark, sf_dir, keys[1:])
    first = probe.plan_rows(spark, sf_dir, keys)
    assert len(first) == 2 and all(r.startswith("| `") for r in first), first
    assert probe.plan_rows(spark, sf_dir, keys) == first
    assert first[1] == alone[0]
