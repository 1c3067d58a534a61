#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (two artifacts, by design):
- ``BENCH_FULL.json`` in the repo root gets the FULL result — every
  per-query timing, cold totals, streaming throughput.  This is the
  machine-readable record rounds diff against.
- stdout's FINAL line is a COMPACT summary JSON (totals + streaming +
  slowest-10), guaranteed well under 2000 chars, because the round driver
  records only the last 2000 chars of output and parses the final line —
  a full per-query map outgrew that window in round 3 and the driver
  recorded ``parsed: null`` despite a clean run.

With ``--check`` the gate compares each query against its per-query
BEST-EVER COMMITTED time — the minimum across every committed version of
``BENCH_FULL.json`` in git history plus every committed ``BENCH_r*.json``
— NOT against the last refresh.  Round 8's judge found that gating
against the last-committed record lets drift ratchet: a mid-round record
refresh rebased the baseline, so m01 moved 2.06x past the round-7 close
while the closing ``--check`` reported zero regressions (each hop was
under 2x of the hop before it).  The best-ever baseline never rebases.

Two thresholds apply per query (both subject to the 0.3 s noise floor):

- ``> 2.0x`` best-ever  → hard REGRESSION, exit non-zero — unless
  ``BENCH_ATTRIBUTION.json`` carries an entry for the query with an
  explicit ``max_ratio`` above the observed ratio.  An entry is only
  honest when backed by a same-window interleaved A/B (the q06/q02
  methodology, SCALING.md) showing the tree is NOT the cause.
- ``> 1.5x`` best-ever  → UNATTRIBUTED MOVER, exit non-zero unless the
  query has any ``BENCH_ATTRIBUTION.json`` entry.  This is the judge's
  round-8 ask: no record refresh may ship a >1.5x mover without an
  attribution, so drift can never ratchet silently.

A query that would fail either threshold is RE-MEASURED solo (3 warm
noop-sink runs in the same session) before the verdict, and the gate —
and the written record — use min(in-suite, solo): a transient
interference spike (round 9 saw 4 adjacent queries spike 2-4x in one
run and re-measure clean minutes later) clears itself, while a real
tree regression stays slow on every re-run.  Retries only LOWER the
current run's number; the best-ever baseline is never touched, so the
retry is not a rebasing path.

Queries absent from the baseline are gated on their FIRST run against
the new-query ceiling (2x the baseline's slowest query) — a brand-new
operator cannot silently ship slower than anything already shipped
would be allowed to get.  ``--check <path>`` still gates against an
explicit record verbatim (manual bisection aid); the no-argument form
always builds the best-ever baseline, falling back to the committed
chain only when git itself is unavailable.

Headliners are the scale-path queries — the quadratic ground-truth baselines
(t04 all-pairs Jaccard, v01 all-pairs cosine) are deliberately excluded: at
sf0.1 they are O(n²) by construction and the LSH/IVF variants (t02, v03) are
their production twins.

Each query is forced with a noop-sink write (full materialization, no
driver-side collect — the honest distributed cost).
"""

from __future__ import annotations

import json
import os
import sys
import time

from squonk2_fastapi_ws_event_stream_spark.registry import QUERIES
from squonk2_fastapi_ws_event_stream_spark.session import get_spark

HEADLINE = [
    "q01_pricing_summary",
    "q02_top_customers",
    "q03_shipping_priority",
    "q04_order_priority",
    "q05_regional_revenue",
    "q06_forecast_revenue",
    "q07_rollup_sales",
    "q08_order_history_windows",
    "q11_quarter_range_join",
    "e04_enrich_json",
    "e07_message_stats",
    "e10_sessionize",
    "e11_asof_join",
    "t01_dedup_exact",
    "t02_dedup_minhash_lsh",
    "t03_simhash",
    "t09_quality_score",
    "t10_token_count",
    "t11_doc_fingerprint",
    "v02_ann_bruteforce_topk",
    "v03_ann_ivf_topk",
    "v05_ann_pandas_udf_topk",
    "v07_ann_kmeans_topk",
    "m01_multimodal_decode",
    "q13_pivot_daily_events",
    "q14_value_percentiles",
    "q16_distinct_users_daily",
    "t12_top_tokens",
    "v04_label_centroids",
    "t05_dedup_exact_sha2",
    "q19_promo_revenue",
    "x01_approx_distinct",
    "x02_approx_percentiles",
    "t06_dedup_simhash_banded",
    "v08_neardup_srp_lsh",
    "t15_pipeline_quality_dedup_stats",
    "q20_small_quantity_revenue",
    "q21_waiting_suppliers",
    "q22_dormant_customers",
    "x03_hash_sample",
    "x04_skew_two_phase_agg",
    "q23_datetime_functions",
    "q24_conditional_functions",
    "t16_array_ops",
    "v09_ann_sq8_topk",
    "x05_hll_sketch_merge",
    "x06_cms_heavy_hitters",
    "t07_dedup_cluster_cc",
    "t17_repetition_stats",
    "t18_pii_redaction",
    "t19_boilerplate_removal",
    "q25_window_frames",
    "x07_bloom_join_pruning",
    "e12_sliding_window",
    "v10_ann_recall_at_k",
    "q26_lateral_topn",
    "q27_unpivot_metrics",
    "x08_stratified_hash_sample",
    "e13_windowed_topk",
    "m04_media_content_dedup",
    "t20_decontamination",
    "t21_decontamination_removal",
    "t22_unigram_logprob",
    "t23_paragraph_dedup",
    "v11_ann_pq_topk",
    "t24_sequence_packing",
    "v12_semdedup",
    "t25_mixture_sampling",
    "t26_leakage_safe_split",
    "e14_log_compaction",
    "q28_trade_flows",
    "q29_market_share",
    "q30_large_volume_customers",
    "q31_supplier_diversity",
    "q32_top_supplier",
    "e15_json_functions",
    "t27_tfidf_top_terms",
    "v13_cluster_representatives",
    "t28_source_overlap",
    "x09_join_size_estimate",
    "t29_quality_calibration",
    "t30_bigram_lm",
    "v14_ann_ivf_pq_topk",
    "t31_minhash_estimate_eval",
    "x10_hll_set_intersection",
    "t32_langid_confusion",
    # Round 4: the previously-unbenched tail — every non-guarded query now
    # falls under the --check 2x-regression gate (guarded t04/v01 stay out;
    # they are the O(n²) ground-truth verifiers, excluded by design).
    "e01_replay_from_ordinal",
    "e02_replay_from_timestamp",
    "e03_replay_from_datetime",
    "e05_filter_control_messages",
    "e06_enrich_prototext",
    "e08_gap_detection",
    "e09_tumbling_window",
    "q09_set_ops",
    "q10_customers_without_orders",
    "q12_richest_per_nation",
    "q15_cube_order_revenue",
    "q17_revenue_share",
    "q18_grouping_sets",
    "t08_lang_id",
    "t13_udtf_demo",
    "t14_string_ops",
    "v06_l2_normalize",
    "m02_multimodal_resize",
    "m03_multimodal_frame_sample",
    # Round 4 additions: corpus analysis, vector evals, interval join,
    # sampled-aggregate audit.
    "t33_dup_ngram_spans",
    "t34_dsir_importance",
    "t35_filter_funnel",
    "t36_zipf_stats",
    "v15_matryoshka_recall",
    "v16_nprobe_recall_curve",
    "e16_interval_join",
    "x11_sample_error_bounds",
    "v17_knn_label_accuracy",
    "m05_media_downsample",
    "q33_cohort_retention",
    "e17_out_of_order_stats",
    "t37_quality_bucket_stats",
    "t38_shingle_containment",
    "e18_conversion_funnel",
    "e19_gap_fill",
    "v18_ann_hamming_topk",
    "q34_order_count_distribution",
    "x12_hll_precision_sweep",
    "m06_media_manifest",
    "v19_ann_filtered_topk",
    "t39_removal_priority",
    "e20_dau_mau_stickiness",
    "q35_part_affinity",
    "e21_hourly_anomalies",
    "v20_quantization_recall",
    "t40_triangle_count",
    "t41_dedup_normalized",
    "q36_supplier_concentration",
    # Round 4 late additions: relational trio, event profiling, vector
    # evals, KMV/linear-counting sketches, media validation, canonical
    # selection, length histogram.
    "q37_profit_by_nation_year",
    "q38_returned_items",
    "q39_ship_lag_priority",
    "e22_event_type_markov",
    "e23_interarrival_stats",
    "v21_ann_mrr_eval",
    "v22_ivf_cell_quality",
    "x13_kmv_distinct",
    "x14_linear_counting",
    "m07_media_magic_validation",
    "t42_canonical_selection",
    "t43_length_histogram",
    "t44_temperature_mixture",
    "v23_dim_stats",
    "t45_pagerank",
    "e24_top_session_paths",
    "v24_embedding_drift",
    "t46_canary_scan",
    "q40_weighted_median",
    "e25_session_cooccurrence",
    "t47_source_similarity",
    "x15_quantile_accuracy_sweep",
    "t48_dedup_savings",
    "v25_label_affinity",
    "e26_mad_anomalies",
    "x16_kmv_set_algebra",
    "v26_ivf_cell_balance",
    "t49_lsh_band_sweep",
    "q41_yoy_revenue_growth",
    "e27_funnel_latency",
]

# Every registered query is benched automatically the moment it exists —
# new operators can never sit in an unbenched (and therefore ungated)
# tail. Only the structurally-guarded O(n²) ground-truth verifiers stay
# out, by design.
_GUARDED = {"t04_ngram_jaccard_pairs", "v01_neardup_cosine"}
HEADLINE += sorted(set(QUERIES) - set(HEADLINE) - _GUARDED)
_missing = set(HEADLINE) - set(QUERIES)
assert not _missing, f"HEADLINE names unknown queries: {_missing}"

# Regression gate (--check): >2x the per-query BEST-EVER COMMITTED time,
# matching BASELINE.md's qualitative bound; >1.5x requires an attribution
# entry; deltas under the floor are host noise.
CHECK_RATIO = 2.0
ATTRIBUTION_RATIO = 1.5
STREAM_RETRY_RATIO = 1.25  # relay dips past this get a solo re-probe
CHECK_FLOOR_SEC = 0.3
ATTRIBUTION_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_ATTRIBUTION.json"
)


def load_attributions(path: str = ATTRIBUTION_PATH) -> dict:
    """``BENCH_ATTRIBUTION.json``: {query: {round, reason, evidence,
    max_ratio?}}.  An entry asserts a same-window A/B showed the tree is
    not the cause of the query's move vs its best-ever committed time;
    ``max_ratio`` (optional) raises the hard gate for that query only."""
    try:
        with open(path, encoding="utf-8") as f:
            obj = json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}
    return obj if isinstance(obj, dict) else {}


RECONCILE_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_RECONCILE.json"
)


def load_reconcile(path: str = RECONCILE_PATH) -> dict:
    """``BENCH_RECONCILE.json``: the round-open driver-record verdicts
    written by scripts/reconcile_driver_bench.py.  ``verdicts`` maps
    query -> {suite_sec, solo_sec, verdict}; a ``host_window`` verdict
    excuses EXACTLY that recorded suite_sec (the value match keeps a
    verdict from leaking onto a future, different slow number).  This is
    the procedure that decides "driver window vs tree" when the driver
    drops a slower-host-window record into the tree (round-10 task #4)."""
    try:
        with open(path, encoding="utf-8") as f:
            obj = json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}
    v = obj.get("verdicts") if isinstance(obj, dict) else None
    return v if isinstance(v, dict) else {}


def _committed_records(repo_dir: str | None = None):
    """Yield every COMMITTED bench record: all git-history versions of
    BENCH_FULL.json plus the committed BENCH_r*.json driver records.
    The shared non-rebasable source set for best_ever_baseline (per-query
    min) and best_ever_stream (relay max)."""
    import glob
    import subprocess

    repo_dir = repo_dir or os.path.dirname(os.path.abspath(__file__))
    try:
        revs = subprocess.run(
            ["git", "rev-list", "HEAD", "--", "BENCH_FULL.json"],
            cwd=repo_dir, capture_output=True, text=True, timeout=60,
        ).stdout.split()
        for rev in revs:
            blob = subprocess.run(
                ["git", "show", f"{rev}:BENCH_FULL.json"],
                cwd=repo_dir, capture_output=True, text=True, timeout=60,
            )
            if blob.returncode == 0:
                try:
                    rec = _usable_baseline(json.loads(blob.stdout))
                except json.JSONDecodeError:
                    rec = None
                if rec:
                    yield rec
    except (OSError, subprocess.SubprocessError):
        pass  # no git here — BENCH_r*.json below still anchors the gate
    for cand in glob.glob(os.path.join(repo_dir, "BENCH_r*.json")):
        try:
            with open(cand, encoding="utf-8") as f:
                rec = _usable_baseline(json.load(f))
        except (OSError, json.JSONDecodeError):
            rec = None
        if rec:
            yield rec


def best_ever_stream(repo_dir: str | None = None) -> float | None:
    """Best-ever committed relay throughput: MAX relay_msgs_per_sec across
    every committed bench record (same non-rebasable sources as
    best_ever_baseline — a record refresh can never lower this floor).
    Round-10 verdict task #5: the streaming analog of the per-query
    best-ever gate denominator."""
    best: float | None = None
    for rec in _committed_records(repo_dir):
        got = rec.get("streaming", {}).get("relay_msgs_per_sec")
        if isinstance(got, (int, float)) and got > 0:
            best = max(best or 0.0, float(got))
    return best


def best_ever_baseline(repo_dir: str | None = None) -> dict[str, float]:
    """Per-query min across every COMMITTED bench record: all git-history
    versions of BENCH_FULL.json plus the committed BENCH_r*.json driver
    records.  This baseline can only go down — a record refresh can never
    rebase the gate (the round-8 judge's rebasing hole)."""
    best: dict[str, float] = {}
    for rec in _committed_records(repo_dir):
        for q, sec in rec["queries"].items():
            if isinstance(sec, (int, float)) and sec > 0:
                best[q] = min(best.get(q, sec), float(sec))
    return best


def _usable_baseline(obj: dict | None) -> dict | None:
    """Unwrap a driver BENCH_r*.json record or a raw/full bench result into
    a dict with a per-query map, or None if it has none (e.g. round 3's
    ``parsed: null`` truncation casualty, or a compact summary line that
    only carries the slowest-10)."""
    if not isinstance(obj, dict):
        return None
    if "parsed" in obj:  # driver wrapper
        obj = obj["parsed"]
    if isinstance(obj, dict) and isinstance(obj.get("queries"), dict) and obj["queries"]:
        return obj
    return None


def _gate_one(name: str, sec: float, base_sec: float, entry: dict | None) -> str | None:
    """Apply the two per-query thresholds; return a failure line or None.
    Prints the ATTRIBUTED EXCEPTION notice when a max_ratio absorbs a
    >2x move."""
    if sec - base_sec <= CHECK_FLOOR_SEC:
        return None  # sub-floor delta: shared-host noise
    ratio = sec / base_sec
    hard = CHECK_RATIO
    if entry and isinstance(entry.get("max_ratio"), (int, float)):
        hard = max(hard, float(entry["max_ratio"]))
        if ATTRIBUTION_RATIO < ratio <= hard:
            print(
                f"bench-check: ATTRIBUTED EXCEPTION {name}: {ratio:.2f}x "
                f"best-ever {base_sec:.3f}s allowed up to {hard:.2f}x "
                f"({entry.get('reason', '')[:80]})",
                file=sys.stderr,
            )
    if ratio > hard:
        return (
            f"{name}: {sec:.3f}s is {ratio:.2f}x best-ever "
            f"{base_sec:.3f}s (gate {hard:.2f}x)"
        )
    if ratio > ATTRIBUTION_RATIO and not entry:
        return (
            f"{name}: {sec:.3f}s is {ratio:.2f}x best-ever "
            f"{base_sec:.3f}s — >={ATTRIBUTION_RATIO}x mover needs a "
            f"same-window-A/B entry in BENCH_ATTRIBUTION.json"
        )
    return None


def check_against_baseline(
    result: dict,
    base: dict,
    baseline_path: str,
    attributions: dict | None = None,
    remeasure=None,
    reconcile: dict | None = None,
    restream=None,
) -> int:
    """Gate `result` against `base` (the non-rebasable best-ever record).

    `remeasure(name) -> float | None`, when provided, is called for each
    query that would otherwise fail: it re-runs the query SOLO in the
    same warm session and returns the min elapsed seconds.  The final
    verdict (and result["queries"], mutated in place so the written
    record carries the honest measurement) uses min(in-suite, solo) —
    a transient interference spike re-measures back under the gate,
    while a real tree regression stays slow on every re-run.  Retries
    can only LOWER the current run's number; the baseline is never
    touched, so this is not a rebasing path."""
    base_q = base.get("queries", {})
    attributions = attributions if attributions is not None else load_attributions()
    # New queries (absent from the baseline) are gated immediately against
    # the new-query ceiling: CHECK_RATIO x the slowest query the baseline
    # already accepts. Every query is therefore gated on every run.
    ceiling = max(base_q.values()) * CHECK_RATIO if base_q else None
    failures, news = [], []
    for name, sec in list(result["queries"].items()):
        if name not in base_q:
            news.append(name)
            if ceiling is not None and sec > ceiling:
                failures.append(
                    f"{name} (new): {sec:.3f}s > new-query ceiling {ceiling:.3f}s"
                )
            continue
        entry = attributions.get(name)
        fail = _gate_one(name, sec, base_q[name], entry)
        if fail and remeasure is not None:
            solo = remeasure(name)
            if solo is not None:
                solo = round(float(solo), 3)
                verdict_sec = min(sec, solo)
                print(
                    f"bench-check: RETRY {name}: in-suite {sec:.3f}s, "
                    f"solo min {solo:.3f}s vs best-ever {base_q[name]:.3f}s",
                    file=sys.stderr,
                )
                result["queries"][name] = verdict_sec
                fail = _gate_one(name, verdict_sec, base_q[name], entry)
                if fail is None:
                    print(
                        f"bench-check: TRANSIENT {name}: solo re-measure "
                        "clears the gate — in-suite spike was interference, "
                        "not the tree",
                        file=sys.stderr,
                    )
        if fail and reconcile:
            r = reconcile.get(name)
            if (
                isinstance(r, dict)
                and r.get("verdict") == "host_window"
                and abs(float(r.get("suite_sec", -1.0)) - sec) < 5e-4
            ):
                # Round-open reconciliation verdict: this EXACT recorded
                # value was re-measured solo and cleared — a
                # driver-window artifact, not the tree. Value-matched so
                # the verdict cannot excuse a different slow number.
                print(
                    f"bench-check: RECONCILED {name}: recorded {sec:.3f}s "
                    f"carries a committed host_window verdict (solo "
                    f"{float(r.get('solo_sec', 0)):.3f}s — "
                    "scripts/reconcile_driver_bench.py)",
                    file=sys.stderr,
                )
                fail = None
        if fail:
            failures.append(fail)
    for name in news:
        print(
            f"bench-check: NEW (gated at {ceiling:.3f}s ceiling): {name}"
            if ceiling is not None
            else f"bench-check: NEW (no baseline, not gated): {name}",
            file=sys.stderr,
        )
    for line in failures:
        print(f"bench-check: REGRESSION >{CHECK_RATIO}x: {line}", file=sys.stderr)
    base_stream = base.get("streaming", {}).get("relay_msgs_per_sec")
    got_stream = result.get("streaming", {}).get("relay_msgs_per_sec")
    if (
        base_stream
        and got_stream
        and got_stream < base_stream / STREAM_RETRY_RATIO
        and restream is not None
    ):
        # Round-10 task #6: the streaming analog of the per-query solo
        # re-measure — a >1.25x throughput dip gets a solo re-probe
        # before any verdict; max(in-suite, solo) is the honest number.
        probe = restream()
        if probe:
            print(
                f"bench-check: STREAM RETRY: in-suite {got_stream} msg/s, "
                f"solo re-probe {probe:.0f} msg/s vs committed "
                f"{base_stream} msg/s",
                file=sys.stderr,
            )
            got_stream = max(got_stream, float(probe))
            result["streaming"]["relay_msgs_per_sec"] = round(got_stream)
            verdict = (
                "host window (re-probe recovers)"
                if got_stream >= base_stream / STREAM_RETRY_RATIO
                else "tree-side — investigate"
            )
            print(f"bench-check: STREAM VERDICT: {verdict}", file=sys.stderr)
    if base_stream and got_stream and got_stream < base_stream / CHECK_RATIO:
        r = (reconcile or {}).get("_streaming")
        if (
            isinstance(r, dict)
            and r.get("verdict") == "host_window"
            and abs(float(r.get("record_msgs_per_sec", -1.0)) - got_stream) < 0.5
        ):
            # Round-open reconciliation verdict (streaming analog of the
            # per-query host_window excusal): this EXACT recorded relay
            # number was solo-re-probed (1- and 8-stream) on the current
            # tree and cleared the gate — a driver-window artifact, not
            # the tree. Value-matched so the verdict cannot excuse a
            # future, different slow number.
            print(
                f"bench-check: RECONCILED relay: recorded {got_stream} "
                f"msg/s carries a committed host_window verdict (solo "
                f"8-stream {r.get('solo_8stream_msgs_per_sec')} msg/s — "
                "scripts/reconcile_driver_bench.py)",
                file=sys.stderr,
            )
        else:
            failures.append(
                f"relay throughput {got_stream} < {base_stream}/{CHECK_RATIO}"
            )
            print(f"bench-check: REGRESSION: {failures[-1]}", file=sys.stderr)
    print(
        f"bench-check vs {baseline_path}: {len(failures)} regressions, "
        f"{len(news)} new queries",
        file=sys.stderr,
    )
    return 1 if failures else 0


FULL_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # Snapshot the previous run's full record BEFORE overwriting it: it is
    # the default --check baseline (the committed record of the last run).
    prev_full = None
    if os.path.exists(FULL_PATH):
        try:
            with open(FULL_PATH, encoding="utf-8") as f:
                prev_full = json.load(f)
        except (OSError, json.JSONDecodeError):
            prev_full = None

    spark = get_spark("squonk2-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen and the Python UDF workers (one per core) so the
    # first query isn't charged session startup — long-lived executors are
    # the production reality being modeled.
    spark.range(1000).count()

    def _identity(batches):
        yield from batches

    spark.range(0, 64, 1, 64).mapInPandas(_identity, schema="id long").count()

    from squonk2_fastapi_ws_event_stream_spark.operators import dedup as _dedup

    def run_pass() -> dict[str, float]:
        timings: dict[str, float] = {}
        for name in HEADLINE:
            _dedup.CURRENT_CONSUMER[:] = [name]  # staged-artifact attribution
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 3)
        _dedup.CURRENT_CONSUMER[:] = []
        return timings

    # Pass 1 warms analysis/codegen caches (the steady state of a long-lived
    # cluster); the reported number is the per-query min of two warm passes
    # (damps interference from other load on a shared host).
    cold = run_pass()
    for name, t in cold.items():
        print(f"  cold {name}: {t:.3f}s", file=sys.stderr)
    # Staged-artifact build cost, paid inside the cold pass above
    # (VERDICT r11 task #2: make cache placement visible so warm wins
    # can be split into structure vs staging).  Snapshot BEFORE the
    # batch-scaling sweep rebuilds staging at other SFs.
    staged_build = {
        op: rec["sec"]
        for op, rec in sorted(_dedup.STAGE_BUILD_SEC.items())
        if rec["sf_dir"] == sf_dir
    }
    for op, sec in staged_build.items():
        print(f"  staged build {op}: {sec:.3f}s", file=sys.stderr)
    warm1, warm2 = run_pass(), run_pass()
    timings = {name: min(warm1[name], warm2[name]) for name in warm1}
    for name, t in timings.items():
        print(f"  warm {name}: {t:.3f}s", file=sys.stderr)

    # Staging-INCLUSIVE warm pass (VERDICT r11 task #2): every query that
    # touched a staged artifact re-runs once with the cache dropped first,
    # so its number includes rebuilding every staged table it consumes —
    # the honest per-query cost when nothing is pre-staged.  Extra
    # measurement only: the headline warm timings above are untouched.
    staged_consumers = sorted(
        n for n, ops in _dedup.STAGE_CONSUMERS.items() if ops
    )
    staged_inclusive: dict[str, float] = {}
    for name in staged_consumers:
        _dedup.unpersist_lsh_cache()
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        staged_inclusive[name] = round(time.perf_counter() - t0, 3)
    _dedup.unpersist_lsh_cache()
    for name, t in staged_inclusive.items():
        print(f"  staged-incl warm {name}: {t:.3f}s", file=sys.stderr)

    streaming = bench_streaming_relay(spark)
    batch_scaling = bench_batch_scaling(spark)

    result = {
        "metric": "headline_query_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "cold_total_sec": round(sum(cold.values()), 3),
        "streaming": streaming,
        # full-record only (compact line must stay under the driver's
        # 2000-char window): warm sec per query per SF — linear-scaling
        # evidence across 100x of data.
        "batch_scaling": batch_scaling,
        # full-record only: per-artifact staged build seconds (paid in the
        # cold pass) and the staging-inclusive warm number per staged
        # consumer — VERDICT r11 task #2's structure-vs-staging split.
        "staged_build_sec": staged_build,
        "staged_inclusive_warm": staged_inclusive,
        "staged_consumers": {
            n: sorted(ops) for n, ops in sorted(_dedup.STAGE_CONSUMERS.items())
        },
    }

    # The gate runs BEFORE the record/compact writes so a retry's solo
    # re-measurement (see check_against_baseline) lands in both. The
    # session is still warm here — a retried query re-runs under the
    # same conditions as its suite pass, minus the neighbors.
    check_rc = None
    if "--check" in sys.argv:

        def _remeasure(name: str, n: int = 3) -> float:
            best_sec = float("inf")
            for _ in range(n):
                t0 = time.perf_counter()
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best_sec = min(best_sec, time.perf_counter() - t0)
            return best_sec

        idx = sys.argv.index("--check")
        base = None
        baseline = ""
        if idx + 1 < len(sys.argv) and not sys.argv[idx + 1].startswith("-"):
            # Explicit record: gate against it verbatim (bisection aid).
            baseline = sys.argv[idx + 1]
            if os.path.exists(baseline):
                with open(baseline, encoding="utf-8") as f:
                    base = _usable_baseline(json.load(f))
        else:
            # Default: the non-rebasable best-ever committed baseline.
            best = best_ever_baseline()
            if best:
                base = {"queries": best}
                # Streaming floor: best-ever committed relay throughput
                # (non-rebasable, same sources as the per-query baseline —
                # round-10 verdict task #5; previously this read only the
                # last record, a rebasable floor).
                relay_best = best_ever_stream()
                if relay_best:
                    base["streaming"] = {"relay_msgs_per_sec": relay_best}
                baseline = "best-ever committed (git BENCH_FULL.json + BENCH_r*.json)"
            elif _usable_baseline(prev_full):
                base = _usable_baseline(prev_full)
                baseline = FULL_PATH + " (previous run; git unavailable)"
        if base:
            check_rc = check_against_baseline(
                result,
                base,
                baseline,
                remeasure=_remeasure,
                reconcile=load_reconcile(),
                restream=lambda: bench_streaming_relay(spark).get(
                    "relay_msgs_per_sec"
                ),
            )
            # Retries may have lowered per-query numbers in place.
            result["value"] = round(sum(timings.values()), 3)
        else:
            print("bench-check: no usable baseline found, skipping", file=sys.stderr)

    # Full record → repo file (the durable per-query map).
    with open(FULL_PATH, "w", encoding="utf-8") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")

    # Compact summary → FINAL stdout line (<2000 chars so the driver's
    # tail window always contains — and can parse — the whole object).
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    compact = {
        "metric": "headline_query_runtime",
        "value": result["value"],
        "unit": "sec",
        "sf": float(sf),
        "n_queries": len(timings),
        "cold_total_sec": result["cold_total_sec"],
        # scaling_curve lives in BENCH_FULL.json only — the compact line
        # must stay under the driver's 2000-char tail window.
        "streaming": {k: v for k, v in streaming.items() if k != "scaling_curve"},
        "slowest10": slowest,
        "full": "BENCH_FULL.json",
    }
    line = json.dumps(compact)
    assert len(line) < 1900, f"compact summary too long ({len(line)} chars)"
    print(line)

    if check_rc is not None:
        sys.exit(check_rc)


def _ws_delivery_bench(spark) -> dict:
    """End-to-end single-connection delivery: publisher log → manager
    (foreachBatch writes each micro-batch to its WebSocket session in one
    socket write) → real client socket, measured from client connect to
    last frame. This is the path the scaling curve does NOT exercise (the
    curve's foreachBatch counts rows JVM-side), so the per-connection
    ceiling is recorded here."""
    import shutil
    import tempfile

    from squonk2_fastapi_ws_event_stream_spark.sources.registry import Registry
    from squonk2_fastapi_ws_event_stream_spark.streaming.manager import StreamManager
    from squonk2_fastapi_ws_event_stream_spark.streaming.websocket import (
        EventStreamWsServer,
        WsClient,
    )

    n = 60_000
    root = tempfile.mkdtemp(prefix="es-ws-")
    server = manager = None
    try:
        _publish_streams(root, 1, n)
        registry = Registry(f"{root}/es.db")
        manager = StreamManager(spark, root, f"{root}/ckpt")
        server = EventStreamWsServer(registry, manager).start_background()
        rec = registry.create("s0")
        t0 = time.perf_counter()
        client = WsClient(
            "127.0.0.1",
            server.port,
            f"/event-stream/{rec['uuid']}?stream_from_ordinal=0",
            timeout=300,
        )
        got = 0
        while got < n:
            text, close = client.recv_text_or_close()
            if text is None:
                break
            got += 1
        sec = time.perf_counter() - t0
        return {
            "messages": got,
            "sec": round(sec, 3),
            "msgs_per_sec": round(got / sec) if sec > 0 else 0,
        }
    finally:
        if server is not None:
            server.stop()
        if manager is not None:
            manager.stop_all()
        shutil.rmtree(root, ignore_errors=True)


def _publish_streams(root: str, n_streams: int, per_stream: int) -> None:
    from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import (
        EventLogWriter,
    )

    for s in range(n_streams):
        w = EventLogWriter(root, f"s{s}")
        with open(w.path, "a", encoding="utf-8") as f:  # bulk append
            for i in range(per_stream):
                f.write(
                    '{"offset": %d, "timestamp": %d, "value": "{\\"message_type\\": \\"bench\\", \\"message_body\\": {\\"sqn\\": %d}}"}\n'
                    % (i + 1, 1_700_000_000_000 + i, i)
                )


def _relay_pass(spark, root: str, n_streams: int, per_stream: int, tag: str) -> float:
    """One concurrent-relay pass: n_streams StreamingQueries, availableNow,
    full relay transform, counted via foreachBatch. Returns elapsed sec."""
    from squonk2_fastapi_ws_event_stream_spark.streaming.pipeline import relay_transform

    t0 = time.perf_counter()
    counts: list[int] = []
    queries = []
    for s in range(n_streams):
        env = (
            spark.readStream.format("eventstream")
            .option("path", root)
            .option("stream", f"s{s}")
            .option("startingOrdinal", 0)
            .load()
        )
        q = (
            relay_transform(env)
            .writeStream.foreachBatch(lambda df, _id: counts.append(df.count()))
            .option("checkpointLocation", f"{root}/ckpt-{tag}-{s}")
            .trigger(availableNow=True)
            .start()
        )
        queries.append(q)
    for q in queries:
        q.awaitTermination(300)
    elapsed = time.perf_counter() - t0
    total = n_streams * per_stream
    assert sum(counts) == total, (sum(counts), total)
    return elapsed


# Batch scaling curve: representative query per plan family, timed warm at
# every available SF — the direct linear-scaling evidence (a query whose
# runtime grows faster than the data is hiding a super-linear stage).
SCALING_QUERIES = (
    "q01_pricing_summary",    # scan + hash aggregate
    "t02_dedup_minhash_lsh",  # staged LSH banding + verify join
    "v03_ann_ivf_topk",       # broadcast argmax + cell equi-join + window
    "e10_sessionize",         # user-partitioned gaps-and-islands windows
    "x04_skew_two_phase_agg", # salted two-phase aggregate
)
SCALING_SFS = ("0.001", "0.01", "0.1")


def bench_batch_scaling(spark) -> dict:
    from squonk2_fastapi_ws_event_stream_spark.operators.dedup import (
        unpersist_lsh_cache,
    )

    curve: dict[str, dict[str, float]] = {q: {} for q in SCALING_QUERIES}
    for sf in SCALING_SFS:
        sf_dir = f"/root/testdata/sf{sf}"
        if not os.path.isdir(sf_dir):
            continue
        unpersist_lsh_cache()  # staged tables must rebuild at THIS sf
        for name in SCALING_QUERIES:
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()  # warm pass (staging + codegen)
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            curve[name][sf] = round(time.perf_counter() - t0, 3)
    for name, row in curve.items():
        print(f"  batch scaling {name}: {row}", file=sys.stderr)
    return curve


def bench_streaming_relay(spark) -> dict:
    """Relay throughput: messages/sec through source → enrichment → sink —
    the reference's own measurement design (A1/A2 counters, BASELINE.md).

    Headline point: 8 streams × 20k messages, one partition per stream
    (total order), 8 concurrent StreamingQueries, availableNow trigger,
    best of two passes.

    Scaling curve: aggregate throughput at 1/8/32/64 concurrent streams
    with PER-STREAM volume held at 20k messages — the many-consumers
    shape of the reference's deployment, with enough volume per stream
    to amortize each StreamingQuery's startup. The local[32] hub shares
    one scheduler, so the honest pass criterion is flat aggregate msgs/s
    as streams multiply (per-stream rate scales down ~1/n); on a real
    cluster each query's partitions land on separate executors and the
    aggregate rises instead (SCALING.md "local-vs-cluster deltas").
    """
    import shutil
    import tempfile

    from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import (
        EventStreamDataSource,
    )

    spark.dataSource.register(EventStreamDataSource)
    n_streams, per_stream = 8, 20_000
    root = tempfile.mkdtemp(prefix="es-bench-")
    try:
        _publish_streams(root, n_streams, per_stream)
        total_msgs = n_streams * per_stream
        # Best of three passes — the min-of-warm discipline applied to
        # the relay, damping shared-host interference (pass 1 also warms
        # the streaming machinery the way long-lived relays run warm).
        # Three, not two: round-7's A/B attribution measured ~±20% host
        # drift across hours on identical code (SCALING.md), and the
        # extra pass costs ~5 s against a headline that rounds get
        # compared on.
        elapsed = min(
            _relay_pass(spark, root, n_streams, per_stream, "a"),
            _relay_pass(spark, root, n_streams, per_stream, "b"),
            _relay_pass(spark, root, n_streams, per_stream, "c2"),
        )
        result = {
            "relay_messages": total_msgs,
            "relay_sec": round(elapsed, 3),
            "relay_msgs_per_sec": round(total_msgs / elapsed),
            "n_streams": n_streams,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)

    curve = []
    for n in (1, 8, 32, 64):
        per = 20_000
        root = tempfile.mkdtemp(prefix=f"es-bench-{n}-")
        try:
            _publish_streams(root, n, per)
            sec = _relay_pass(spark, root, n, per, "c")
            curve.append(
                {
                    "n_streams": n,
                    "messages": n * per,
                    "sec": round(sec, 3),
                    "msgs_per_sec": round(n * per / sec),
                }
            )
            print(
                f"  relay scaling: {n} streams -> {curve[-1]['msgs_per_sec']} msg/s",
                file=sys.stderr,
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)
    result["scaling_curve"] = curve
    result["ws_delivery"] = _ws_delivery_bench(spark)
    print(
        f"  ws delivery: {result['ws_delivery']['msgs_per_sec']} msg/s "
        f"({result['ws_delivery']['messages']} msgs end-to-end)",
        file=sys.stderr,
    )
    return result


if __name__ == "__main__":
    main()
