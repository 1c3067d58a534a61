"""Plan guards for the round-4 additions (second file; test_plan_shapes.py
holds the earlier families)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from hypothesis import given, settings
from hypothesis import strategies as st

from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
    BOUNDED,
    WORKLOAD,
    _filter_class,
)
from squonk2_fastapi_ws_event_stream_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"


def explain(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_v18_hamming_search_is_single_corpus_pass(spark):
    # Query signatures broadcast; the corpus streams through xor+popcount
    # map-side — no shuffle before the per-query pool window, and no
    # cartesian anywhere.
    plan = explain(QUERIES["v18_ann_hamming_topk"](spark, SF))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_e18_funnel_windows_share_one_shuffle(spark):
    # The three chained step-timestamp windows all ride the user_id
    # partition: one hashpartitioning exchange plus the final 1-row agg.
    plan = explain(QUERIES["e18_conversion_funnel"](spark, SF), mode="simple")
    assert plan.count("Exchange") <= 2
    assert "hashpartitioning(user_id" in plan


def test_e19_grid_is_broadcast_built(spark):
    # The dense grid comes from the broadcast 1-row bounds; the only
    # non-broadcast exchanges are the sparse aggregate and the
    # carry-forward window partition.
    plan = explain(QUERIES["e19_gap_fill"](spark, SF))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_t36_vocabulary_never_globally_sorted(spark):
    # Two-level ranking: the per-term window partitions by cnt, so no
    # single-partition exchange carries vocabulary-sized data. (The
    # count-HISTOGRAM cumsum is single-partition by design but holds one
    # row per distinct count value — tiny.)
    plan = explain(QUERIES["t36_zipf_stats"](spark, SF))
    assert "hashpartitioning(cnt" in plan


def test_q34_aggregates_before_join(spark):
    # The Q13 shape: orders reduce to per-customer counts BEFORE the left
    # join (aggregate-then-join, never row-multiplying).
    plan = explain(QUERIES["q34_order_count_distribution"](spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    # the per-customer aggregate appears below the join in the plan tree
    join_pos = plan.find("Join")
    agg_pos = plan.rfind("HashAggregate")
    assert join_pos != -1 and agg_pos > join_pos


def test_q38_filters_reach_the_scans(spark):
    # returnflag and the order-date quarter prune at the parquet scans —
    # PushedFilters must carry both before any join multiplies rows.
    plan = explain(QUERIES["q38_returned_items"](spark, SF))
    assert "IsNotNull(l_returnflag)" in plan or "EqualTo(l_returnflag,R)" in plan
    assert "o_orderdate" in plan.split("PushedFilters", 2)[-1] or \
        "GreaterThanOrEqual(o_orderdate" in plan


def test_m07_validation_stays_jvm_side(spark):
    # One Arrow stage (the payload ingest); the fault injector and the
    # magic sniff are codegen binary expressions — no second Python pass.
    plan = explain(QUERIES["m07_media_magic_validation"](spark, SF), mode="simple")
    assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan


def test_t42_selection_is_one_aggregate_no_window(spark):
    # Canonical selection is a max_by struct aggregate — no per-cluster
    # window sort anywhere in the plan.
    plan = explain(QUERIES["t42_canonical_selection"](spark, SF), mode="simple")
    assert "Window" not in plan


def test_v22_corpus_is_not_reshuffled(spark):
    # The packed-centroid row arrives by broadcast; scoring is map-side.
    # The only hashpartitioning exchange on corpus-derived rows is the
    # k-group cell aggregate.
    plan = explain(QUERIES["v22_ivf_cell_quality"](spark, SF), mode="simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("hashpartitioning(cell_id") <= 1


def test_x13_kmin_is_take_ordered(spark):
    # "K smallest hashes" compiles to TakeOrderedAndProject — partial
    # per-partition top-k, never a global sort of the hash table.
    plan = explain(QUERIES["x13_kmv_distinct"](spark, SF), mode="simple")
    assert "TakeOrderedAndProject" in plan


def test_no_row_at_a_time_python_anywhere(spark):
    """Global hot-path hygiene, every registered query in one sweep:
    (a) no row-at-a-time Python eval (BatchEvalPython) — Python is
    allowed only as Arrow-batched stages (ArrowEvalPython/MapInPandas);
    (b) no unbounded CartesianProduct — every cross product must plan as
    a BroadcastNestedLoopJoin over a provably small side (1-row
    aggregates, packed centroid rows), never a shuffled cartesian."""
    py_offenders, cartesian_offenders = [], []
    for name, fn in QUERIES.items():
        plan = explain(fn(spark, SF), mode="simple")
        if "BatchEvalPython" in plan:
            py_offenders.append(name)
        if "CartesianProduct" in plan:
            cartesian_offenders.append(name)
    assert not py_offenders, f"row-at-a-time Python in: {py_offenders}"
    assert not cartesian_offenders, f"cartesian product in: {cartesian_offenders}"


def test_t45_pagerank_no_cartesian(spark):
    # Every iteration is an equi-join + groupBy; nothing may plan as a
    # cartesian/nested-loop over the node set.
    plan = explain(QUERIES["t45_pagerank"](spark, SF), mode="simple")
    assert "CartesianProduct" not in plan


def test_q40_window_is_segment_partitioned(spark):
    # The cumulative window partitions by segment — never a global sort
    # of orders.
    plan = explain(QUERIES["q40_weighted_median"](spark, SF), mode="simple")
    assert "hashpartitioning(c_mktsegment" in plan


def test_e25_pairs_expand_in_row(spark):
    # Session sets expand to pairs with array expressions — no session
    # self-join anywhere (one window shuffle + aggregates only).
    plan = explain(QUERIES["e25_session_cooccurrence"](spark, SF), mode="simple")
    assert "SortMergeJoin" not in plan  # lift joins all broadcast
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(user_id" in plan


def test_t47_norms_broadcast(spark):
    # The per-source norm tables ride broadcast joins; the vocabulary
    # dot-product join stays hint-free AND salted (stop-word keys would
    # otherwise land |sources|^2 products on one reducer at many-sources
    # scale) — the salt column must be part of the join key.
    plan = explain(QUERIES["t47_source_similarity"](spark, SF), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "__salt" in plan


def test_head_tail_split_joins_head_broadcast_tail_shuffle(spark):
    # t22/t27/t30 frequency joins use the head/tail split
    # (functions/skew.head_tail_freq_join): the fixed-1024 hot head MUST
    # appear as a BroadcastHashJoin (probe rows for hot keys never
    # shuffle) and the rare tail MUST carry no broadcast HINT. With
    # autoBroadcastJoinThreshold disabled, only HINTED joins may
    # broadcast — so the 100 TB shape becomes visible at test scale:
    # hinted fixed-size head = BroadcastHashJoin, unhinted growing tail =
    # SortMergeJoin.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ("t22_unigram_logprob", "t27_tfidf_top_terms", "t30_bigram_lm"):
            plan = explain(QUERIES[name](spark, SF), mode="simple")
            assert "BroadcastHashJoin" in plan, name
            assert "SortMergeJoin" in plan, name
            assert "CartesianProduct" not in plan, name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_head_tail_split_is_join_invariant(spark):
    # The split never changes the joined multiset: compare against the
    # plain equi-join on a synthetic Zipfian corpus, with head_k smaller
    # than the vocabulary so both branches are exercised.
    from pyspark.sql import functions as F

    from squonk2_fastapi_ws_event_stream_spark.functions.skew import (
        head_tail_freq_join,
    )

    probe = spark.range(2000).select(
        F.col("id").alias("row_id"),
        F.concat(F.lit("w"), (F.col("id") % 37)).alias("w"),
    )
    lut = probe.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    split = head_tail_freq_join(probe, lut, "w", "cnt", head_k=5)
    plain = probe.join(lut, "w")
    assert sorted(map(tuple, split.collect())) == sorted(map(tuple, plain.collect()))


def test_t50_blocking_never_cartesian(spark):
    # Fuzzy linkage candidates come from block-key equi-joins (the LSH
    # discipline); the Levenshtein verify is map-side on candidates.
    plan = explain(QUERIES["t50_fuzzy_blocking_match"](spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan


def test_v27_incremental_add_is_broadcast_assignment(spark):
    # Batch assignment rides the broadcast packed-centroid row — the base
    # corpus is never rescanned for the merge (only the verdict rebuild
    # touches it), and nothing is cartesian.
    plan = explain(QUERIES["v27_ivf_incremental_add"](spark, SF), mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_e29_weights_are_integer_shifts(spark):
    # The decay weight is an integer bit-shift (no pow in the hot path);
    # the max-day aggregate broadcasts.
    plan = explain(QUERIES["e29_decayed_trending"](spark, SF), mode="simple")
    assert "shiftleft" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_e30_scd2_single_user_shuffle(spark):
    # Change detection and interval close ride the same (user_id, ts)
    # window partitioning — one hash exchange, no join.
    plan = explain(QUERIES["e30_scd2_intervals"](spark, SF), mode="simple")
    assert plan.count("Exchange hashpartitioning(user_id") <= 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_q43_merge_is_one_window_no_join(spark):
    # CDC merge = union + per-key window; a join-based MERGE would
    # shuffle twice and row-multiply.
    plan = explain(QUERIES["q43_cdc_merge"](spark, SF), mode="simple")
    assert "Join" not in plan
    assert "hashpartitioning(o_orderkey" in plan


def test_v29_bottom_k_is_take_ordered(spark):
    # The outlier worklist compiles to TakeOrderedAndProject — never a
    # global percent_rank window over the corpus.
    plan = explain(QUERIES["v29_embedding_outliers"](spark, SF), mode="simple")
    assert "TakeOrderedAndProject" in plan


def test_t52_band_join_never_all_pairs(spark):
    # Fuzzy decontamination candidates come from the LSH band equi-join;
    # the Jaccard verify touches candidates only.
    plan = explain(QUERIES["t52_fuzzy_decontamination"](spark, SF), mode="simple")
    assert "CartesianProduct" not in plan


def test_x17_window_explode_no_range_join(spark):
    # The 7-day rolling merge is an in-row explode + equi-groupBy — no
    # range join, no window over raw history.
    plan = explain(QUERIES["x17_sliding_hll_window"](spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    assert "hll_union_agg" in plan or "hll_sketch_agg" in plan


def test_e28_forward_asof_one_user_shuffle(spark):
    # Union + forward window: one user_id hash exchange, no inequality
    # join anywhere.
    plan = explain(QUERIES["e28_asof_forward"](spark, SF), mode="simple")
    assert plan.count("Exchange hashpartitioning(user_id") <= 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_v28_lloyd_update_two_shuffles(spark):
    # posexplode + (cell,dim) aggregate + per-cell drift aggregate: the
    # only exchanges are those two hash aggregates (plus the broadcast of
    # the old centroids' dim rows).
    plan = explain(QUERIES["v28_kmeans_iteration"](spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_no_unbounded_broadcast_hints(spark):
    """SCALING.md's bounded-broadcast rule, executable (round-6 task #3):
    every broadcast hint in every registered query must have a provably
    bounded input — 1-row aggregate, fixed-K limit, fixed-domain
    grouping, spec-fixed table, unique-key range — or be a stride-
    derived workload fixture, or carry an explicit justified entry in
    plan_guard.ALLOWED_SEMANTIC. t54/q42 proved prose rules regress;
    this closes the class."""
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        ALLOWED_SEMANTIC,
        broadcast_hint_audit,
    )

    offenders = {}
    for name, fn in QUERIES.items():
        report = broadcast_hint_audit(fn(spark, SF))
        allowed = ALLOWED_SEMANTIC.get(name, (0, ""))[0]
        if len(report["unbounded"]) > allowed:
            offenders[name] = report["unbounded"]
    assert not offenders, f"unbounded broadcast hints: {offenders}"


def test_plan_guard_catches_the_t54_q42_antipattern(spark):
    """Canary: the exact round-5 anti-patterns (broadcast hint on a
    corpus-sized digest index / on the full SF-scaled part table) must
    go RED through the guard — proving the rule is executable, not
    prose."""
    from pyspark.sql import functions as F

    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    from squonk2_fastapi_ws_event_stream_spark.tables import table

    docs = table(spark, SF, "documents").select("doc_id", "text")
    index = docs.select(F.sha2("text", 256).alias("digest"), "doc_id").groupBy(
        "digest"
    ).agg(F.min("doc_id").alias("existing_id"))
    bad_t54 = docs.withColumn("digest", F.sha2("text", 256)).join(
        F.broadcast(index), "digest", "left"
    )
    assert broadcast_hint_audit(bad_t54)["unbounded"], "guard missed t54 shape"

    li = table(spark, SF, "lineitem").select("l_partkey")
    part = table(spark, SF, "part").select("p_partkey")
    bad_q42 = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    assert broadcast_hint_audit(bad_q42)["unbounded"], "guard missed q42 shape"

    # ...and the FIXED shapes are green.
    assert not broadcast_hint_audit(QUERIES["t54_incremental_dedup"](spark, SF))[
        "unbounded"
    ]
    assert not broadcast_hint_audit(
        QUERIES["q42_disjunctive_predicates"](spark, SF)
    )["unbounded"]


def test_t54_index_join_is_hint_free(spark):
    """Round-6 task #1: the digest-index probe join must carry no static
    broadcast hint (the index is corpus-sized); digest keys are
    sha2-uniform so the shuffle equi-join is skew-free and AQE
    broadcasts at runtime if the index genuinely fits."""
    plan = explain(QUERIES["t54_incremental_dedup"](spark, SF), mode="simple")
    assert "CartesianProduct" not in plan


def test_q42_part_filter_reaches_the_scan(spark):
    """Round-6 task #2: the brand/size disjunction must prune the part
    scan (PushedFilters), and the derived quantity bounds the lineitem
    scan — no static broadcast hint anywhere."""
    plan = explain(QUERIES["q42_disjunctive_predicates"](spark, SF))
    assert "p_brand" in plan.split("PushedFilters", 1)[-1]
    assert "GreaterThanOrEqual(l_quantity" in plan or "l_quantity" in plan.split(
        "PushedFilters", 1
    )[-1]


# -- round-6 additions ------------------------------------------------------
def test_t55_incremental_probe_never_rescans_allpairs(spark):
    # Delta signatures probe the staged band index with equi-joins only;
    # the Jaccard verify touches candidate pairs, never all pairs.
    plan = explain(QUERIES["t55_incremental_neardup"](spark, SF), mode="simple")
    assert "CartesianProduct" not in plan


def test_q44_frame_is_one_customer_exchange(spark):
    # The interval frame is a per-partition sliding accumulator over ONE
    # (o_custkey) hash exchange — no self-join.
    plan = explain(QUERIES["q44_rolling_revenue"](spark, SF), mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(o_custkey") <= 1


def test_q45_pivot_is_single_aggregate(spark):
    # Explicit-values pivot compiles to one groupBy aggregate (one
    # conditional agg per cell) — no per-year scan, no transpose.
    plan = explain(QUERIES["q45_pivot_revenue"](spark, SF), mode="simple")
    assert plan.count("Scan parquet") <= 3  # orders, customer, nation
    assert "pivotfirst" in plan.lower() or "HashAggregate" in plan


def test_q46_plans_semi_and_anti(spark):
    # EXISTS / NOT EXISTS become semi/anti hash joins (no row
    # multiplication, no distinct), with the returnflag filter pushed to
    # the lineitem scan.
    plan = explain(QUERIES["q46_exists_antijoin"](spark, SF))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "EqualTo(l_returnflag,R)" in plan or "l_returnflag" in plan.split(
        "PushedFilters", 1
    )[-1]


def test_v31_delete_is_staged_probe_not_rebuild(spark):
    # The incremental arm filters the STAGED assignment (InMemoryTableScan
    # of the persisted index); only the verdict arm re-assigns, riding
    # the broadcast packed-centroid row. Nothing cartesian.
    plan = explain(QUERIES["v31_ivf_delete_maintenance"](spark, SF), mode="simple")
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_m10_banding_never_allpairs(spark):
    # Candidates come from the (band_id, band_bits) equi-join; the
    # 64-term Hamming verify is a codegen expression on candidates.
    plan = explain(QUERIES["m10_image_neardup_bands"](spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_e31_attribution_two_window_exchanges(spark):
    # Forward as-of rides the (user_id) window; first/last ranking rides
    # the (next_pid) window; the final aggregate is fixed-enum. No
    # interval self-join.
    plan = explain(QUERIES["e31_touch_attribution"](spark, SF), mode="simple")
    assert "Join" not in plan or "SortMergeJoin" not in plan
    assert "hashpartitioning(user_id" in plan
    assert "hashpartitioning(next_pid" in plan


def test_x19_sample_no_global_sort(spark):
    # Per-stratum top-K rides the (event_type) window partition — there
    # must be no single-partition global sort of the events.
    plan = explain(QUERIES["x19_stratified_sample"](spark, SF), mode="simple")
    assert "hashpartitioning(event_type" in plan
    assert "Exchange SinglePartition" not in plan.split("Window")[0]


def test_t56_pairs_expand_from_unique_words(spark):
    # BPE pair counting must aggregate word frequencies BEFORE the pair
    # expansion: the (word) aggregate sits below the explode in the plan
    # (unique words only are expanded), and the final (a,b) aggregate is
    # alphabet-bounded.
    plan = explain(QUERIES["t56_bpe_pair_counts"](spark, SF), mode="simple")
    gen_pos = plan.find("Generate explode(transform")
    agg_pos = plan.rfind("HashAggregate")
    assert gen_pos != -1 and agg_pos > gen_pos  # word agg below the expansion
    assert "CartesianProduct" not in plan


def test_x20_sketch_shuffles_counters_not_values(spark):
    # The <=64-bucket histogram is a fixed-width aggregate; the bucket
    # expression is the bin()-length identity (no log/pow in the plan).
    plan = explain(QUERIES["x20_ddsketch_quantiles"](spark, SF), mode="simple")
    assert "bin(" in plan
    assert "LOG(" not in plan.upper() or "log(" not in plan


def test_v32_mips_single_query_window_shuffle(spark):
    # Max-norm broadcasts (1-row agg); both rankings ride the same
    # (query_id) window partitioning — one hash exchange.
    plan = explain(QUERIES["v32_mips_topk"](spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(query_id") <= 1


def test_q47_subqueries_decorrelate(spark):
    # The two correlated scalar subqueries must decorrelate into
    # aggregate-then-join — no nested-loop re-scan of orders per row.
    plan = explain(QUERIES["q47_above_customer_average"](spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    join_pos = plan.find("Join")
    agg_pos = plan.rfind("HashAggregate")
    assert join_pos != -1 and agg_pos > join_pos


def test_t57_owner_aggregate_no_window_over_corpus(spark):
    # The keep decision is a (sentence) aggregate + join-back — no
    # corpus-wide window, nothing quadratic; reassembly sorts in-row.
    plan = explain(QUERIES["t57_sentence_dedup"](spark, SF), mode="simple")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_q48_diff_is_one_outer_join(spark):
    # Reconciliation = ONE full-outer equi-join on the key + a 4-row
    # aggregate; no hints (bounded-broadcast rule).
    plan = explain(QUERIES["q48_snapshot_diff"](spark, SF), mode="simple")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_x21_morton_is_mapside_integer_ops(spark):
    # The Morton code is pure integer shifts/masks computed map-side; the
    # per-file aggregates are tiny (128 rows) and there is no join.
    plan = explain(QUERIES["x21_zorder_layout"](spark, SF), mode="simple")
    assert "Join" not in plan
    assert "shiftright" in plan


def test_q49_skyline_reduces_before_dominance(spark):
    # The corpus collapses to a <=50-row per-size aggregate BEFORE any
    # window/dominance logic, and the only broadcast hint (the skyline
    # join-back) is proven bounded by the fixed p_size domain.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["q49_skyline_parts"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "CartesianProduct" not in plan
    # dominance window sits ABOVE the per-size reduce in the plan tree
    assert plan.find("Window") < plan.rfind("HashAggregate")


def test_q50_recursive_step_is_join_free(spark):
    # The engine owns the iteration (UnionLoop); the recursive step is a
    # pure projection+filter on the previous level — the loop body must
    # contain NO join and NO exchange (shuffles happen once, after).
    plan = explain(QUERIES["q50_recursive_referrals"](spark, SF), mode="simple")
    assert "UnionLoop" in plan
    loop_body = plan.split("UnionLoop", 1)[1].split("BroadcastExchange", 1)[0]
    assert "Join" not in loop_body
    assert "Exchange" not in loop_body


def test_e32_cusum_windows_ride_type_partitioning(spark):
    # CUSUM's two prefix windows (cumsum, running min) are PARTITIONED by
    # event_type — never an unpartitioned global sort — and the per-type
    # stats broadcast is bounded by the fixed event_type domain.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["e32_cusum_changepoint"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"]
    plan = explain(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(event_type" in plan
    # every Window carries a partition spec (no SinglePartition window)
    assert "Window" in plan and "SinglePartition" not in plan


def test_e33_streaks_reuse_one_user_exchange(spark):
    # Islands = dedup aggregate + row_number window + two aggregates, all
    # on user_id-led keys: exactly TWO exchanges (the (user,day) dedup
    # and the user window), the rollups reuse the window's partitioning.
    plan = explain(QUERIES["e33_activity_streaks"](spark, SF), mode="simple")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "CartesianProduct" not in plan


def test_x22_topk_is_partitioned_never_global(spark):
    # The per-stratum top-(K+1) rides a window PARTITIONED by the
    # fixed-domain event_type — no SinglePartition funnel anywhere in the
    # corpus path — and the tau broadcast is a bounded per-type aggregate.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["x22_priority_sample"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"]
    plan = explain(df, mode="simple")
    assert "hashpartitioning(event_type" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_t58_prefix_window_sees_histogram_not_tokens(spark):
    # Exactly ONE window, and it sits above BOTH aggregates (wordcount,
    # then distinct-count histogram): the single-partition prefix scan
    # only ever carries histogram rows, never the vocabulary.
    df = QUERIES["t58_vocab_coverage"](spark, SF)
    plan = explain(df, mode="simple")
    assert plan.count("Window [") == 1
    win = plan.find("Window [")
    aggs_below = plan[win:].count("HashAggregate")
    assert aggs_below >= 4  # partial+final for wordcount and histogram
    assert "CartesianProduct" not in plan


def test_v33_knn_graph_is_cell_join_never_allpairs(spark):
    # Every vector probes via the broadcast packed centroids (map-side);
    # candidates come only from the (cell_id) equi-join against the
    # staged assignment — no cartesian, no corpus x corpus join.
    plan = explain(QUERIES["v33_knn_graph"](spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(cell_id" in plan or "cell_id" in plan
    assert "hashpartitioning(query_id" in plan


def test_m11_audit_rides_banded_pairs(spark):
    # The cross-modal audit inherits m10's banded candidate generation —
    # no cartesian — and resolves captions via plain doc_id equi-joins
    # with no static hints anywhere.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["m11_caption_consistency"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"]
    plan = explain(df, mode="simple")
    assert "CartesianProduct" not in plan


def test_q51_merge_is_hint_free_outer_join(spark):
    # Maintenance merges base and delta aggregates with full-outer
    # equi-joins on the key — no static broadcast hint (the delta side is
    # corpus-derived here; AQE decides at runtime).
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["q51_incremental_agg_maintenance"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_q52_ranks_only_the_reduced_table(spark):
    # The ranking window's input is the (year, nation) aggregate — the
    # windows sit ABOVE the revenue HashAggregates in the plan tree, so
    # no ranking function ever sees a corpus-sized partition.
    plan = explain(QUERIES["q52_rank_battery"](spark, SF), mode="simple")
    win = plan.find("Window")
    assert win != -1
    assert plan[win:].count("HashAggregate") >= 2  # partial+final reduce below
    assert "CartesianProduct" not in plan


def test_e34_triangle_is_two_aggregates_one_join(spark):
    # first-seen week and the (user, week) grid are both aggregates; the
    # cohort join is a plain user-keyed equi-join with no static hints.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["e34_retention_triangle"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "CartesianProduct" not in plan


def test_e35_sweep_line_sees_minutes_not_events(spark):
    # The occupancy cumsum window's input is the per-minute delta
    # aggregate (calendar-bounded) — both windows in the plan sit above
    # aggregates, and session windows ride the user_id partitioning.
    plan = explain(QUERIES["e35_peak_concurrency"](spark, SF), mode="simple")
    assert "hashpartitioning(user_id" in plan
    assert "hashpartitioning(minute" in plan
    assert "CartesianProduct" not in plan


def test_x23_planner_is_one_aggregate(spark):
    # The whole planner is a single map-side-combinable (event_type)
    # aggregate: no join, no window, nothing else.
    plan = explain(QUERIES["x23_sample_size_planner"](spark, SF), mode="simple")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_v34_range_search_has_no_window_and_no_allpairs(spark):
    # Radius search is strictly lighter than top-k: candidates stream out
    # of the cell equi-join through a filter — no per-query window sort
    # exists at all, and the corpus never meets itself cartesian-style.
    plan = explain(QUERIES["v34_range_search"](spark, SF), mode="simple")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_x24_packing_window_sees_manifest_not_orders(spark):
    # The running-sum window's input is the per-day file manifest
    # aggregate (calendar-bounded rows), never the orders corpus: the
    # plan's Window sits above an Aggregate on day_num.
    plan = explain(QUERIES["x24_compaction_planner"](spark, SF), mode="simple")
    assert "Window" in plan
    assert "hashpartitioning(day_num" in plan
    assert "CartesianProduct" not in plan and "Join" not in plan


def test_x25_stats_is_expand_free(spark):
    # r11 optimization: the old single-scan multi-distinct aggregate
    # planned as Expand — EVERY fact row replicated ×(C+1) through the
    # partial aggregate. Now ONE distinct-free pass computes the
    # row/null/min/max/length stats and each NDV is its own two-phase
    # single-distinct subtree, staged per corpus (shared with x25b) and
    # attached as a broadcast of the 8-row table. For a COLUMNAR source
    # the C pruned scans read the same bytes the one wide scan read,
    # without the ×9 row replication.
    plan = explain(QUERIES["x25_column_stats"](spark, SF), mode="simple")
    assert "Expand" not in plan
    assert "InMemoryTableScan" in plan  # the staged exact-NDV table
    assert "BroadcastHashJoin" in plan  # 8-row NDV attach
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_e36_four_windows_one_exchange(spark):
    # All four M4 orderings (first/min/max/last) partition by
    # (event_type, day_num): Catalyst plans ONE hashpartitioning
    # exchange for the event scan, reused by every window sort.
    plan = explain(QUERIES["e36_minmax_decimation"](spark, SF), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_q53_nullsafe_join_is_bounded_and_hint_free(spark):
    # Both sides of the null-safe full-outer join are fixed-domain
    # priority aggregates; no static hint, no cartesian, and the plan
    # really contains the null-safe comparison (not a rewritten =).
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["q53_nullsafe_diff"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan


def test_m12_scene_cuts_one_video_exchange_no_pairs(spark):
    # Frame hashing is one Arrow pass; the only shuffle partitions by
    # doc_id for the lag window; the Hamming compare is the codegen
    # expression on sequential frame rows — no join, no cartesian.
    plan = explain(QUERIES["m12_video_scene_cuts"](spark, SF), mode="simple")
    assert "hashpartitioning(doc_id" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_x26_drift_shuffles_counters_not_values(spark):
    # Both periods fold to <= 64 bucket counters in one aggregate; the
    # CDF window and the scaled-gap join touch only the bounded bucket
    # table and the broadcast 1-row totals.
    plan = explain(QUERIES["x26_histogram_drift"](spark, SF), mode="simple")
    # the bucket groupBy key is a computed expression -> _groupingexpression
    assert "hashpartitioning(_groupingexpression" in plan
    # the 1-row totals ride a broadcast; the probe side never re-shuffles
    assert "CartesianProduct" not in plan


def test_t59_keywords_take_ordered_never_global_sort(spark):
    # Tokenization is a map-side posexplode; islands + phrase assembly
    # ride the doc_id partitioning; word scores join hint-free; the
    # final top-20 is a TakeOrdered, never a full-sort exchange.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["t59_rake_keywords"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_x27_sketch_pass_folds_to_eight_integers(spark):
    # The sketch arm is ONE scan -> a no-grouping aggregate (8 sign
    # sums); only the exact-F2 verdict arm groups by key. No window.
    plan = explain(QUERIES["x27_ams_f2"](spark, SF), mode="simple")
    assert "Window" not in plan
    assert plan.count("Scan parquet") == 2  # sketch pass + exact verdict
    assert "CartesianProduct" not in plan


def test_m13_trim_is_shuffle_free(spark):
    # Per-payload spans: one Arrow pass, no exchange at all.
    plan = explain(QUERIES["m13_silence_trim"](spark, SF), mode="simple")
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan


def test_e37_baseline_join_is_bounded_and_hint_free(spark):
    # Train and eval are two aggregates off one scan; the baseline side
    # is fixed-domain (types x 168 hour-of-week slots) and joins
    # hint-free; the anomaly verdict is a decimal cross-product filter.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["e37_seasonal_anomalies"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "CartesianProduct" not in plan and "Window" not in plan


def test_t60_removal_is_digest_keyed_no_window(spark):
    # Gram shuffle keys on the sha2 digest; the frequency join is
    # hint-free; reassembly is ONE aggregate (array_sort inside
    # collect_list) — no per-doc window sort, nothing cartesian.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["t60_dup_span_removal"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_m14_reuse_clusters_by_hash_never_pairs(spark):
    # Repeated-shot detection is ONE aggregate on the frame-hash key —
    # output linear in distinct hashes, never the O(k^2) pair listing a
    # planted shared clip would explode a pair-join into (t01-vs-t02
    # applied to frames). No join, no window.
    plan = explain(QUERIES["m14_shot_reuse"](spark, SF), mode="simple")
    assert "hashpartitioning(ahash" in plan
    assert "Join" not in plan and "Window" not in plan


def test_v35_rerank_touches_candidates_only(spark):
    # Stage 1 broadcasts the quarter-width query set over one corpus
    # stream; stage 2's full-dim join keys on vec_id against the
    # candidate list — no cartesian, both query joins broadcast.
    plan = explain(QUERIES["v35_matryoshka_twostage"](spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_x28_counters_fold_before_probe_join(spark):
    # d x w signed counters aggregate map-side; the probe side joins d
    # broadcast counter tables — no corpus-sized join input anywhere.
    plan = explain(QUERIES["x28_count_sketch"](spark, SF), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_t61_checkpoints_ride_conditional_sums_no_corpus_window(spark):
    # Heaps-law checkpoints are answered from the per-token
    # first-occurrence aggregate via conditional sums: one token-keyed
    # exchange, bounded 1-row cross joins, never a corpus-sized window
    # or a 5x re-scan.
    plan = explain(QUERIES["t61_heaps_law"](spark, SF), mode="simple")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(token" in plan


def test_t62_readability_is_one_codegen_span_no_shuffle(spark):
    # Per-doc higher-order array folds: zero exchanges, zero joins —
    # the whole score computes inside the scan's codegen stage.
    plan = explain(QUERIES["t62_readability"](spark, SF), mode="simple")
    assert "Exchange" not in plan
    assert "Join" not in plan and "Window" not in plan


def test_q54_quintiles_come_from_histograms_not_ntile(spark):
    # RFM quintile boundaries fold from domain-bounded value histograms
    # (three tiny windows), never an ntile over raw customers; the
    # boundary frames are 1-row broadcasts; the only corpus shuffles
    # are the per-customer aggregate and the 6-row segment rollup.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["q54_rfm_segments"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "ntile" not in plan.lower()
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(o_custkey" in plan


def test_x29_ta_prefixes_are_take_ordered_never_global_sort(spark):
    # Both attribute prefixes plan as bounded TakeOrdereds; candidates
    # join back via a bounded broadcast; nothing cartesian; the final
    # window orders <= K rows.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["x29_fagin_ta_topk"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_t63_checksum_scan_is_one_codegen_span_no_shuffle(spark):
    # Plant, Luhn-validate, fold-replace, regex-redact: all per-row
    # string/array expressions — no exchange, no join, no window, and
    # the Luhn fold is an aggregate() lambda, never a Python UDF.
    plan = explain(QUERIES["t63_pii_checksum_scan"](spark, SF), mode="simple")
    assert "Exchange" not in plan
    assert "Join" not in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_e38_anomaly_model_is_bounded_broadcast_worklist_take_ordered(spark):
    # The transition model is a fixed-domain (<= |types|^2) aggregate and
    # joins back as a bounded broadcast; the worklist is TakeOrdered,
    # never a global sort; the only corpus shuffles are the per-user lag
    # window and the per-user score aggregate.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["e38_journey_anomaly"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert "hashpartitioning(user_id" in plan
    assert "CartesianProduct" not in plan


def test_x30_summaries_shuffle_counters_not_tokens(spark):
    # Per-batch MG folds inside Arrow-vectorized mapInPandas; the merge
    # shuffles (token, est) counter rows; the exact side is a bounded
    # top-10 TakeOrdered; the total is a 1-row broadcast.
    plan = explain(QUERIES["x30_misra_gries"](spark, SF), mode="simple")
    assert "MapInPandas" in plan
    assert "hashpartitioning(token" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_e39_km_fold_sees_calendar_rows_only(spark):
    # One user_id exchange for the subject table; every window after it
    # (at-risk reverse cumsum) and the sequential fold operate on the
    # calendar-bounded per-duration aggregate; no join anywhere.
    plan = explain(QUERIES["e39_kaplan_meier"](spark, SF), mode="simple")
    assert "hashpartitioning(user_id" in plan
    assert "hashpartitioning(duration" in plan
    assert "Join" not in plan


def test_m15_detection_is_shuffle_free_arrow_batched(spark):
    # Build + detect FUSED into one Arrow-batched mapInPandas over a
    # pushed-down doc_id filter; no exchange, no join anywhere.
    plan = explain(QUERIES["m15_letterbox_detect"](spark, SF), mode="simple")
    assert plan.count("MapInPandas") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan


def test_x31_bootstrap_shuffle_carries_replicate_partials_only(spark):
    # The ×100 explode stays map-side: a partial HashAggregate folds each
    # task's replicate contributions BEFORE the exchange, so the shuffle
    # carries <= 100 partial rows per task, never the exploded stream.
    # The CI join-back is a 1-row bounded broadcast (audit-clean) and the
    # only window orders the fixed 100-row replicate table.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["x31_poisson_bootstrap"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    # map-side combine: the partial per-replicate sums fold BEFORE the
    # replicate exchange (simple mode prints partial_sum in the map-side
    # HashAggregate under the Exchange hashpartitioning(r...) node)
    assert "Exchange hashpartitioning(r#" in plan
    assert "partial_sum((w" in plan, "explode must fold map-side pre-shuffle"
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_e40_locf_window_rides_grid_not_corpus(spark):
    # The observed table folds on the FINE (event_type, bucket) key with a
    # map-side partial; the LOCF window runs on grid rows (calendar-
    # bounded) after the grid join; the 1-row bounds aggregate broadcasts.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["e40_gapfill_locf"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "partial_max" in plan  # within-bucket close folds map-side
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_e41_twap_has_no_corpus_scale_type_window(spark):
    # Segmented integration: the only corpus window partitions by the
    # FINE (event_type, day) key; the per-type stitch window runs on the
    # calendar-bounded daily summary. A bare event_type partition over
    # raw events (the q52-class single-task funnel) must not appear.
    plan = explain(QUERIES["e41_time_weighted_avg"](spark, SF), mode="simple")
    assert "hashpartitioning(event_type#" in plan  # stitch on daily table
    assert "hashpartitioning(event_type#" in plan.split("Scan parquet")[0]
    # the window over raw events must carry day in its partition key:
    import re
    win_parts = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    raw_windows = [w for w in win_parts if "day" not in w and "us#" in w]
    assert not raw_windows, f"corpus window without day key: {raw_windows}"
    assert "Join" not in plan


def test_x32_sweep_shuffle_carries_three_partial_rows(spark):
    # The corpus folds to per-user counts (map-side combine on user_id);
    # the x3 threshold explode feeds a 3-row conditional aggregate whose
    # shuffle carries <= 3 partial rows per task. No join anywhere.
    plan = explain(QUERIES["x32_ab_proportion_test"](spark, SF), mode="simple")
    assert "hashpartitioning(user_id" in plan
    assert "hashpartitioning(k_min" in plan
    assert "partial_sum" in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_x33_benford_groups_on_fixed_digit_domain(spark):
    # One scan; the aggregate groups on the 9-value digit domain with a
    # map-side partial; broadcasts are the 9-row local expected table and
    # the 1-row total (audit-clean); the chi-square window is 9 rows.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["x33_benford_audit"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "hashpartitioning(digit" in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_q56_alloc_windows_ride_the_nation_rollup(spark):
    # customer⋈orders is the only corpus join (hint-free, AQE decides);
    # every window (total, residue, remainder rank) runs on the 25-row
    # nation rollup; the nation dim broadcast is spec-bounded.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["q56_largest_remainder_alloc"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "hashpartitioning(c_nationkey" in plan
    assert "CartesianProduct" not in plan


def test_m16_exposure_is_shuffle_free_arrow_batched(spark):
    # Build + extract FUSED into one Arrow-batched mapInPandas over a
    # pushed-down doc_id filter; no exchange, no join anywhere.
    plan = explain(QUERIES["m16_exposure_stats"](spark, SF), mode="simple")
    assert plan.count("MapInPandas") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan


def test_m16_exposure_reads_real_pixel_bytes():
    # Tamper checks: stats must come from the actual pixel array —
    # brightening one pixel moves the mean; padding bytes are excluded.
    from squonk2_fastapi_ws_event_stream_spark.operators.multimodal import (
        exposure_stats, make_exposed_bmp,
    )
    img = bytearray(make_exposed_bmp(17, 9, 7, 0, 256))
    base = exposure_stats(bytes(img))
    img[54] = 255 if img[54] < 128 else 0  # tamper pixel (0,0) channel B
    assert exposure_stats(bytes(img)) != base
    # padding tamper must NOT change anything (w=17 -> 51 data bytes,
    # 52-byte rows -> 1 pad byte per row at offset 54 + 51)
    img2 = bytearray(make_exposed_bmp(17, 9, 7, 0, 256))
    img2[54 + 51] = 255
    assert exposure_stats(bytes(img2)) == base


def test_e42_running_max_is_two_level_hour_segmented(spark):
    # The running high-water mark must decompose: the only corpus window
    # partitions by the CALENDAR arrival hour; the prefix max runs on the
    # per-hour summary. A window over raw events without a_hour in its
    # partition key would be the single-task funnel.
    import re
    plan = explain(QUERIES["e42_watermark_lateness"](spark, SF), mode="simple")
    assert "hashpartitioning(a_hour" in plan
    win_parts = re.findall(r"windowspecdefinition\(([^)]*?specifiedwindowframe)", plan)
    bad = [w for w in win_parts if "a_hour" not in w and "us#" in w]
    assert not bad, f"corpus window without hour segmentation: {bad}"
    assert "CartesianProduct" not in plan


def test_v36_moments_fold_mapside_to_64_groups(spark):
    # One posexplode pass; the aggregate reduces on the dim key with
    # map-side decimal partial sums; no join, no window anywhere.
    plan = explain(QUERIES["v36_dimension_health"](spark, SF), mode="simple")
    assert "hashpartitioning(dim" in plan
    assert "partial_sum" in plan
    assert "Join" not in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_t64_marginal_joins_ride_reduced_tables_topk_take_ordered(spark):
    # Pair counts reduce BEFORE joining the vocab-sized marginals
    # (hint-free); N/M are 1-row broadcasts; top-20 is TakeOrdered.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    from squonk2_fastapi_ws_event_stream_spark.operators import dedup
    dedup.unpersist_lsh_cache()
    df = QUERIES["t64_pmi_collocations"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert "hashpartitioning(a#" in plan or "hashpartitioning(b#" in plan
    assert "CartesianProduct" not in plan


def test_q57_median_frame_rides_calendar_daily_rollup(spark):
    # The corpus reduces to the (nation, day) rollup BEFORE any window;
    # the rolling frame is ROWS 6 PRECEDING on that calendar-bounded
    # table; customer⋈orders stays hint-free.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["q57_rolling_median_revenue"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "specifiedwindowframe(RowFrame, -6, currentrow" in plan
    assert "hashpartitioning(c_nationkey" in plan
    assert "CartesianProduct" not in plan


def test_x34_cuped_folds_to_one_row_no_join(spark):
    # One (user_id) aggregate with map-side combine; all twelve pooled
    # moments fold in a single 1-row aggregate. No join, no window.
    plan = explain(QUERIES["x34_cuped_adjustment"](spark, SF), mode="simple")
    assert "hashpartitioning(user_id" in plan
    assert "partial_sum" in plan
    assert "Join" not in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_t65_containment_is_banded_capped_and_prefiltered(spark):
    # Candidates come from the band equi-join (never a cartesian), with
    # BOTH quadratic guards in the plan: hot-bucket suppression (since
    # round 11 the shared suppress_hot_buckets aggregate + LEFT ANTI
    # form, not a count window — no full band-row sort) and the >= 2-
    # position agreement aggregate BEFORE the expensive shingle verify.
    from squonk2_fastapi_ws_event_stream_spark.operators import dedup
    dedup.unpersist_lsh_cache()
    plan = explain(QUERIES["t65_containment_dedup"](spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    assert "band_key" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bucket_n" in plan      # hot-bucket suppression applied
    assert "LeftAnti" in plan      # ...in the aggregate+anti-join form
    assert "n_agree" in plan       # agreement prefilter before verify


def test_x35_welch_folds_to_one_row_no_join(spark):
    # Same shape contract as x34: one user_id fold, then a 1-row
    # conditional aggregate; no join, no window.
    plan = explain(QUERIES["x35_welch_ttest"](spark, SF), mode="simple")
    assert "hashpartitioning(user_id" in plan
    assert "partial_sum" in plan
    assert "Join" not in plan and "Window" not in plan


def test_e43_pit_join_is_union_window_not_range_join(spark):
    # The PIT lookup must be the union + last(ignorenulls) walk on ONE
    # fine user_id window — never a range/interval join (no Join node at
    # all) and never a per-interval explosion.
    plan = explain(QUERIES["e43_pit_feature_join"](spark, SF), mode="simple")
    assert "Join" not in plan
    assert "hashpartitioning(user_id" in plan
    assert plan.count("Window") >= 1
    assert "CartesianProduct" not in plan


def test_e44_coverage_sweep_is_windows_on_one_user_exchange(spark):
    # The merge-overlapping-intervals sweep is two windows + one rollup
    # riding a single user_id exchange — no self-join, no cartesian.
    plan = explain(QUERIES["e44_interval_coverage"](spark, SF), mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") >= 1
    assert "CartesianProduct" not in plan


def test_x36_srm_daily_table_is_calendar_bounded(spark):
    # Corpus folds on user_id (first-seen day); the SRM stats live on the
    # calendar-bounded daily table; no join anywhere.
    plan = explain(QUERIES["x36_srm_check"](spark, SF), mode="simple")
    assert "hashpartitioning(user_id" in plan
    assert "hashpartitioning(day" in plan
    assert "Join" not in plan


def test_e45_pair_join_rides_the_dense_hourly_rollup(spark):
    # The corpus folds once to (type, hour) counts; the pair self-join
    # and moments run on the densified calendar-bounded grid; the 1-row
    # bounds aggregate broadcasts (audit-clean).
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["e45_metric_correlation"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "hashpartitioning(event_type" in plan
    assert "CartesianProduct" not in plan


def test_x37_ranks_factor_through_histogram_two_level(spark):
    # No corpus-wide rank: midranks come from the value histogram, and
    # the cum_before running sum is the e42 two-level scan (intra-block
    # window partitioned by blk + prefix over the block summary).
    import re
    plan = explain(QUERIES["x37_mann_whitney"](spark, SF), mode="simple")
    assert "hashpartitioning(user_id" in plan   # per-user fold
    assert "hashpartitioning(x#" in plan        # histogram reduce
    assert "hashpartitioning(blk" in plan       # intra-block window
    wins = re.findall(r"windowspecdefinition\(([^)]*?specifiedwindowframe)", plan)
    bad = [w for w in wins if "blk" not in w]
    assert not bad, f"window without block segmentation: {bad}"


def test_x38_mde_is_one_fold_one_row(spark):
    plan = explain(QUERIES["x38_mde_planner"](spark, SF), mode="simple")
    assert "hashpartitioning(user_id" in plan
    assert "Join" not in plan and "Window" not in plan


def test_e46_lag_join_rides_the_dense_hourly_grid(spark):
    # The seasonal lag is an equi-join on (type, h-168) over the
    # calendar-bounded dense grid — never a window over raw events.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["e46_seasonal_naive_mase"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "hashpartitioning(event_type" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_q58_concentration_has_no_global_sort(spark):
    # Gini and top-k% shares factor through the revenue histogram: no
    # corpus-wide Sort/rank; cumsum windows are block-segmented (the
    # x37 discipline); totals broadcast as a 1-row aggregate.
    import re
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["q58_revenue_concentration"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "hashpartitioning(o_custkey" in plan
    assert "hashpartitioning(x#" in plan
    wins = re.findall(r"windowspecdefinition\(([^)]*?specifiedwindowframe)", plan)
    bad = [w for w in wins if "blk" not in w]
    assert not bad, f"window without block segmentation: {bad}"


def test_t66_idf_votes_use_head_tail_split_no_vocab_broadcast(spark):
    # The frequency lookup is the t22 head/tail split: a fixed-1024
    # broadcast head plus a skew-free shuffled tail — never a vocab-sized
    # broadcast; the per-doc vote fold is one map-side-combined aggregate.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    from squonk2_fastapi_ws_event_stream_spark.operators import dedup
    dedup.unpersist_lsh_cache()
    df = QUERIES["t66_idf_simhash"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "hashpartitioning(doc_id" in plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_e47_sliding_rate_is_range_frame_no_pair_join(spark):
    # The 60-s sliding count is a RANGE frame over per-second aggregates
    # on one user exchange — never the quadratic per-event interval join.
    plan = explain(QUERIES["e47_peak_rate"](spark, SF), mode="simple")
    assert "Join" not in plan
    assert "RangeFrame" in plan or "specifiedwindowframe(RangeFrame" in plan
    assert "hashpartitioning(user_id" in plan


def test_q55_balance_is_two_aggregates_no_corpus_window(spark):
    # max_by rides the (custkey, month) aggregate — never a row_number
    # window over orders; the only window (MoM lag) orders the
    # calendar-bounded monthly table.
    plan = explain(QUERIES["q55_semi_additive_balance"](spark, SF), mode="simple")
    assert "max_by" in plan
    assert "hashpartitioning(o_custkey" in plan
    assert "row_number" not in plan
    assert "Join" not in plan


def test_x25b_kmv_sketch_is_per_column_local_topk(spark):
    # The 100 TB swap for x25's exact NDVs: state is K hashes per column.
    # r11: each column is its own subtree — column-pruned scan, map-side
    # partial distinct on the hash, then bottom-K as a sort+limit whose
    # per-partition local top-K bounds the single merge at K×partitions
    # rows (no ×8 row explode, no salted windows, no Generate). The
    # 8-row exact side still broadcasts.
    plan = explain(QUERIES["x25b_column_stats_sketch"](spark, SF), mode="simple")
    assert "Expand" not in plan
    assert "Generate" not in plan  # the ×8 struct explode is gone
    assert "Window" not in plan  # bottom-K is local top-K, not row_number
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_t67_code_detection_is_pure_projection(spark):
    # Per-row counting only: no joins, no windows, no aggregates — the
    # whole operator is one codegen expression chain on the scan.
    plan = explain(QUERIES["t67_code_detection"](spark, SF), mode="simple")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "HashAggregate" not in plan


def test_t68_cdc_windows_partition_by_doc_never_corpus(spark):
    # Chunk-id running sums partition by doc_id (bounded by doc length);
    # dedup is digest-keyed aggregation — no pair joins anywhere.
    plan = explain(QUERIES["t68_cdc_chunk_dedup"](spark, SF), mode="simple")
    assert "hashpartitioning(doc_id" in plan
    assert "hashpartitioning(digest" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_e48_bitmap_retention_is_user_keyed_no_window(spark):
    # Masks are a bit_or aggregate per user; the only joins key on
    # user_id; the week expansion is a constant 9-element explode.
    plan = explain(QUERIES["e48_retention_bitmaps"](spark, SF), mode="simple")
    assert "hashpartitioning(user_id" in plan
    assert "bit_or" in plan
    assert "Window" not in plan


def test_x39_chi2_margins_are_windows_over_bounded_cells(spark):
    # The events fact table is scanned exactly ONCE: margins are windows
    # over the bounded (|event-type enum| x 7) cell table, never separate
    # re-aggregations of the scan.
    df = QUERIES["x39_chi2_independence"](spark, SF)
    plan = explain(df, mode="formatted")
    # formatted mode prints each scan twice (tree node + detail block);
    # Location: lines count physical scans exactly once
    assert plan.count("Location:") == 1, plan.count("Location:")
    assert "Window" in plan


def test_v37_hubness_rides_staged_ivf_not_allpairs(spark):
    # In-degree aggregation over v33's banded IVF candidates: the plan
    # must contain no cartesian product and key the final aggregate on
    # the bounded k_occurrence domain.
    from squonk2_fastapi_ws_event_stream_spark.operators import dedup
    dedup.unpersist_lsh_cache()
    plan = explain(QUERIES["v37_hubness_audit"](spark, SF), mode="simple")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(k_occurrence" in plan


def test_q59_abc_has_no_global_sort(spark):
    # The q58 discipline: rank quantities factor through the revenue
    # histogram; cumsum windows are block-segmented.
    import re
    plan = explain(QUERIES["q59_abc_classification"](spark, SF), mode="simple")
    assert "hashpartitioning(l_partkey" in plan
    wins = re.findall(r"windowspecdefinition\(([^)]*?specifiedwindowframe)", plan)
    bad = [w for w in wins if "blk" not in w]
    assert not bad, f"window without block segmentation: {bad}"


def test_e49_dup_audit_is_one_user_window_then_fixed_agg(spark):
    # One lag window partitioned by user_id (the e08 shape), then a
    # fixed-domain event_type aggregate — no joins.
    plan = explain(QUERIES["e49_duplicate_event_audit"](spark, SF), mode="simple")
    assert "hashpartitioning(user_id" in plan
    assert "Join" not in plan


def test_q60_ltv_window_is_calendar_bounded(spark):
    # The cumulative window partitions by cohort_year over the bounded
    # (cohort_year, order_year) grid; cohort sizes broadcast.
    plan = explain(QUERIES["q60_cohort_ltv"](spark, SF), mode="simple")
    assert "hashpartitioning(o_custkey" in plan
    assert "windowspecdefinition(cohort_year" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_x41_skew_audit_ranks_the_count_histogram_not_keys(spark):
    # Median/max factor through the count-of-counts histogram: the only
    # key-wide shuffles are the two per-key aggregates; windows run on
    # the tiny multiplicity table (hashpartitioning on cnt never appears
    # — the window input is the bounded histogram).
    plan = explain(QUERIES["x41_join_skew_audit"](spark, SF), mode="simple")
    assert "hashpartitioning(l_orderkey" in plan
    assert "hashpartitioning(o_custkey" in plan
    assert "CartesianProduct" not in plan


def test_t69_ccnet_buckets_use_head_tail_and_blocked_windows(spark):
    # The vocab lookup is the t22 head/tail split (fixed-1024 broadcast
    # head, never a vocab-sized broadcast); decile windows partition by
    # (lang, blk) / (lang) over the score histogram — block-segmented,
    # never a language-wide row window.
    import re
    from squonk2_fastapi_ws_event_stream_spark.operators import dedup
    dedup.unpersist_lsh_cache()
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        broadcast_hint_audit,
    )
    df = QUERIES["t69_lang_perplexity_buckets"](spark, SF)
    audit = broadcast_hint_audit(df)
    assert not audit["unbounded"] and not audit["workload"]
    plan = explain(df, mode="simple")
    assert "hashpartitioning(doc_id" in plan
    wins = re.findall(r"windowspecdefinition\(lang([^)]*?specifiedwindowframe)", plan)
    assert wins, "expected lang-partitioned histogram windows"


def test_e50_token_bucket_fold_is_jvm_one_user_shuffle(spark):
    # The replay is a JVM higher-order aggregate over the collected
    # per-user array: exactly one key-wide shuffle (the user groupBy),
    # no Python stage, no window over the raw event log, and the fold
    # itself shows up as the aggregate HOF.
    plan = explain(QUERIES["e50_token_bucket_replay"](spark, SF), mode="simple")
    assert plan.count("hashpartitioning(user_id") >= 1
    assert "Window" not in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, py
    assert "aggregate(" in plan  # the sequential token-bucket fold


def test_m01_m02_are_single_python_stage(spark):
    # Round-10 fuse (VERDICT r9 task #2): payload synthesis + decode
    # (m01) and resize + summarize (m02) each run in exactly ONE
    # mapInPandas — one Arrow crossing, one Python-worker dispatch.
    # Two stages back-to-back is the regression the driver's r9 bench
    # flagged at 7.78x best-ever; this pin keeps the chain from coming
    # back.
    for name in (
        "m01_multimodal_decode",
        "m02_multimodal_resize",
        "m05_media_downsample",
        "m09_audio_features",
        "m13_silence_trim",
        "m17_audio_clipping",
    ):
        plan = explain(QUERIES[name](spark, SF), mode="simple")
        assert plan.count("MapInPandas") == 1, name
        assert "Exchange hashpartitioning" not in plan, name
        assert "Join" not in plan, name


def test_q40_size_switch_single_window_at_bench_scale(spark):
    # Round-10 task #8: q40's exact single-window plan must be the one
    # that runs below Q40_BUCKET_THRESHOLD (bench scale) — one sort
    # window over the joined base, no bucket aggregate. The bucket+
    # refine form is exact too and must produce identical rows.
    from squonk2_fastapi_ws_event_stream_spark.plans.tpch import (
        _q40_bucket_refine,
        _q40_single_window,
        q40_weighted_median,
    )

    plan = explain(q40_weighted_median(spark, SF), mode="simple")
    # The dispatched form is the single-window one: the base is scanned
    # ONCE (2 parquet scans: orders + customer); the bucket+refine form
    # scans it twice (4) and carries the extra bucket windows.
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")
    assert explain(_q40_bucket_refine(spark, SF), mode="simple").count(
        "Scan parquet"
    ) == 4
    single = [
        r.asDict() for r in _q40_single_window(spark, SF).collect()
    ]
    bucket = [
        r.asDict() for r in _q40_bucket_refine(spark, SF).collect()
    ]
    assert sorted(single, key=lambda r: r["segment"]) == sorted(
        bucket, key=lambda r: r["segment"]
    ), "the two exact forms must agree bit for bit"
    # And the bucket form's plan actually prunes through a broadcast of
    # the crossing-bucket table before its sort window.
    bplan = explain(_q40_bucket_refine(spark, SF), mode="simple")
    assert "BroadcastHashJoin" in bplan or "BroadcastNestedLoop" not in bplan


# -- plan-guard classifier properties (pure string logic) -------------------
@given(
    st.sampled_from(["doc_id", "vec_id", "o_orderkey", "event_id"]),
    st.integers(2, 10_000),
    st.integers(0, 99),
    st.booleans(),
)
@settings(max_examples=100, deadline=None)
def test_filter_class_recognizes_stride_and_bounds(col, mod, rem, casted):
    lit = f"cast({rem} as bigint)" if casted else str(rem)
    mod_lit = f"cast({mod} as bigint)" if casted else str(mod)
    stride = f"(({col}#12L % {mod_lit}) = {lit})"
    assert _filter_class(stride) == WORKLOAD
    eq = f"({col}#3L = {lit})"
    assert _filter_class(eq) == BOUNDED
    upper = f"({col}#3L < {lit})"
    assert _filter_class(upper) == BOUNDED


@given(st.text(alphabet="abcdefg_%()=<> 0123456789#L", max_size=60))
@settings(max_examples=200, deadline=None)
def test_filter_class_never_blesses_unknown_columns(cond):
    # A condition that names no unique-key column proves nothing.
    from squonk2_fastapi_ws_event_stream_spark.functions.plan_guard import (
        UNIQUE_KEY_COLS,
    )

    if not any(c in cond for c in UNIQUE_KEY_COLS):
        assert _filter_class(cond) is None
