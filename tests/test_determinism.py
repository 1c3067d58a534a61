"""Parallelism-invariance guards: results must not depend on partition
count or partial-aggregate merge order.

The cross-engine recipe (decimal-cast sums, ROUND before compare,
closed-form hashing, explicit tie-breaks) is what makes these queries
hash-match DuckDB — but the same recipe is what makes them return
IDENTICAL bytes on 2 partitions and on 2000. This is the correctness
property that survives a 1000-executor cluster; these tests pin it by
running representative queries under deliberately different shuffle
parallelism and diffing the sorted results.
"""

from __future__ import annotations

import pandas as pd
import pytest

from squonk2_fastapi_ws_event_stream_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"

# One query per family whose plan contains a shuffle whose merge order
# could plausibly leak into results: decimal aggs, window tie-breaks,
# iterative centroid training, LSH candidate generation, sampling.
REPRESENTATIVES = [
    "q01_pricing_summary",
    "q02_top_customers",
    "t02_dedup_minhash_lsh",
    "t15_pipeline_quality_dedup_stats",
    "v03_ann_ivf_topk",
    "v07_ann_kmeans_topk",
    "v08_neardup_srp_lsh",
    "x03_hash_sample",
    "x04_skew_two_phase_agg",  # salt assignment varies; algebraic merge must not
    "t07_dedup_cluster_cc",  # iterative propagation must converge identically
    "x07_bloom_join_pruning",  # bit_or word merge order must not leak
    "t17_repetition_stats",
    "t19_boilerplate_removal",
    "q25_window_frames",  # frame evaluation under different sort partitioning
    # round-4 representatives:
    "t33_dup_ngram_spans",  # gram-frequency join under different bucketing
    "t34_dsir_importance",  # fixed-size bucket table merge order
    "t36_zipf_stats",  # two-level rank must equal the global ROW_NUMBER
    "t37_quality_bucket_stats",  # NTILE assignment under repartitioning
    "v16_nprobe_recall_curve",  # per-level windows over one scored pass
    "v18_ann_hamming_topk",  # popcount pool + re-rank tie-breaks
    "e16_interval_join",  # bucket-exploded equi-join merge order
    "q33_cohort_retention",  # distinct-activity count under partitioning
    "q35_part_affinity",  # fact-fact self-join pair counting
    # round-4 late additions:
    "q38_returned_items",  # top-20 tie-breaks under partial top-k merge
    "e22_event_type_markov",  # per-user lead window under repartitioning
    "v22_ivf_cell_quality",  # decimal cosine means, partial-agg merge order
    "x13_kmv_distinct",  # k-min hash selection across partition layouts
    "t42_canonical_selection",  # max_by struct merge order on exact ties
    # round-6 continuation representatives:
    "q49_skyline_parts",  # decimal min-agg merge + frontier equality join
    "q51_incremental_agg_maintenance",  # decimal outer-merge vs recompute
    "e32_cusum_changepoint",  # decimal prefix windows under repartitioning
    "x22_priority_sample",  # priority top-(K+1) under partial top-k merge
    "t58_vocab_coverage",  # histogram prefix + closed-form crossings
    "v33_knn_graph",  # cell-join candidate merge + top-k tie-breaks
    "e35_peak_concurrency",  # union + minute-delta merge under partitioning
    "x23_sample_size_planner",  # decimal moment sums, partial-agg merge order
    "v34_range_search",  # cell-join candidate merge, threshold filter only
    "x24_compaction_planner",  # manifest cumsum + bin rollup under partitioning
    "x25_column_stats",  # Expand multi-distinct partial merges
    "e36_minmax_decimation",  # four-window row_number picks on one exchange
    "q53_nullsafe_diff",  # null-keyed full-outer merge, decimal deltas
    "m12_video_scene_cuts",  # Arrow frame-hash pass + per-video lag window
    "x26_histogram_drift",  # decimal cross-products, bounded-bucket cumsum
    "t59_rake_keywords",  # island windows + integer micro-score join
    "x27_ams_f2",  # sign-sum partial-agg merge, decimal squares
    "e37_seasonal_anomalies",  # decimal cross-multiplied verdicts under merge
    "t60_dup_span_removal",  # digest join + in-order reassembly aggregate
    "m14_shot_reuse",  # frame-hash cluster aggregate, struct-min examples
    "v35_matryoshka_twostage",  # two ranking stages, candidate-join merge
    "x28_count_sketch",  # signed counter merges, median-of-5 order stat
]


def _canon(df) -> pd.DataFrame:
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(by=cols).reset_index(drop=True).astype(str)


@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_result_invariant_under_shuffle_parallelism(spark, name):
    from squonk2_fastapi_ws_event_stream_spark.operators.dedup import unpersist_lsh_cache

    base = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        unpersist_lsh_cache()  # staged LSH tables must rebuild per pass,
        wide = _canon(QUERIES[name](spark, SF))
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        unpersist_lsh_cache()  # or the cache would mask the recompute
        narrow = _canon(QUERIES[name](spark, SF))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", base)
    pd.testing.assert_frame_equal(wide, narrow)


def test_e50_refill_division_is_exact_beyond_double_range(spark):
    """ADVICE r8: the e50 refill used floor(double) division, exact only
    while delta_us * rate < 2^53 — yet the docstring's own span bound
    (~1e15 us x rate 20 = 2e16) exceeds that.  The refill now divides
    with the long ``div`` of its SQL transform.  Pin that form against
    Python's arbitrary-precision // on products chosen to break the
    double path: p = k*1e9 - 20 in the ulp-64 double range rounds UP to
    k*1e9 before dividing, so the old form published k where the true
    floor-div is k-1."""
    import pyspark.sql.functions as F

    # products of the form delta_us * 20 (what the refill divides),
    # including the double-breaking shape and int64-edge magnitudes
    ps = [
        400_000_000 * 10**9 - 20,   # double floors to 4e8, exact is 4e8-1
        300_000_000 * 10**9 - 20,
        2**53 + 20,                  # first long not double-exact
        9_223_372_036_854_775_800,  # near int64 max, still exact
        0, 20, 10**9 - 20, 10**9, 10**9 + 20, 5 * 10**12 - 20,
    ]
    df = spark.createDataFrame([(p,) for p in ps], "p long")
    got = [
        r["q"]
        for r in df.select(F.expr("p div 1000000000").alias("q")).collect()
    ]
    want = [p // 10**9 for p in ps]
    assert got == want
    # and the double path genuinely diverges on the adversarial shape —
    # this is what the exact form fixes, not a tautology
    import math

    assert math.floor(ps[0] / 1e9) == ps[0] // 10**9 + 1
