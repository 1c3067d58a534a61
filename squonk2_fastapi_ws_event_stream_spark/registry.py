"""Central query registry: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable plus its DuckDB oracle SQL.

This is the single source the driver contract (__spark_entry__.py) reads.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators import (
    corpus,
    dedup,
    events,
    graph,
    multimodal,
    quality,
    similarity,
    textstats,
)
from .plans import extended, pipeline, relational2, relational3, tpch

_MODULES = (
    tpch,
    extended,
    pipeline,
    relational2,
    relational3,
    events,
    dedup,
    graph,
    quality,
    textstats,
    similarity,
    multimodal,
    corpus,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

for _m in _MODULES:
    overlap = QUERIES.keys() & _m.QUERIES.keys()
    if overlap:
        raise RuntimeError(f"duplicate query names: {overlap}")
    QUERIES.update(_m.QUERIES)
    ORACLES.update(_m.ORACLES)

missing = QUERIES.keys() - ORACLES.keys()
# Queries without oracles get the driver's weaker rows-only check; keep the
# set empty unless an op is genuinely non-SQL-expressible.
NON_SQL_QUERIES = frozenset(missing)

# The driver checks at most ~50 queries per round, sampled in registry
# order. Rotation policy (round-6 task #7, encoded so it cannot rot):
#   head = NEW or CHANGED-PLAN queries this round (hand-maintained each
#          round — they need fresh hard driver rows first),
#   then = the STALEST cohort, computed from the committed
#          CORRECTNESS_r*.json ledger: queries sorted by the last round
#          that recorded a driver row for them (never-sampled first).
# With ~50 samples/round over ~185 queries, every query's driver row is
# <= ~3 rounds old in steady state. Local oracle-parity tests still
# cover ALL queries regardless of this order.
_NEW_OR_CHANGED: tuple[str, ...] = (
    # round 12 (optimization round 2 of 2): only genuinely plan-changed
    # queries enter here; outputs are bit-identical at every driver SF —
    # parity re-verified hash-exact at sf0.001/0.01/0.1 for every entry
    # (OPTIMIZATION_r12.md has the per-query ledger); the remaining ~45
    # driver sampler slots keep draining the stalest cohort.
    #
    # (a) LSH verify-stage size-ratio prefilter (VERDICT r11 task #1,
    # guide §3.1 prune-before-join): the staged band tables now carry
    # n_sh = |shingle set| and the threshold-bearing consumers (t02 at
    # J>=0.10, t52 at J>=0.5, t55 at J>=0.10) drop candidate pairs that
    # provably cannot clear their published Jaccard threshold
    # (min*1e6 >= T_ppm*max — see dedup.size_ratio_ok) BEFORE the
    # distinct + shingle re-join + array_intersect. LOSSLESS for the
    # published thresholds, so no oracle changed. t31/t38 publish every
    # candidate pair and are NOT pruned — their plans drift only via the
    # shared staged band-table schema (+n_sh). The same commit replaces
    # per-pair array_union with |A|+|B|−|A∩B| size arithmetic (§1.2;
    # identical exact integers for distinct arrays).
    "t02_dedup_minhash_lsh",
    "t31_minhash_estimate_eval",
    "t38_shingle_containment",
    "t52_fuzzy_decontamination",
    "t55_incremental_neardup",
    # (b) q31 (guide §2.3/§2.4): the (l_partkey, l_suppkey) DISTINCT — a
    # full-fact exchange — was redundant under COUNT(DISTINCT l_suppkey),
    # and the selective p_size filter now prunes the fact via the part
    # join BEFORE the one remaining aggregate exchange. Output identical;
    # oracle untouched.
    "q31_supplier_diversity",
    # (b2) IVF/PQ family (guide §2.4; VERDICT r11 task #5): the strided
    # query set is read UNfanned (its widening repartition was a wasted
    # exchange+stage under a broadcast / pre-shuffle side), and the
    # packed 1-row centroid row joined the staged index artifacts
    # (plan-invisible to fingerprints — only the fan_out removals drift).
    # v10/v20/v21/v30 drift as downstream consumers of v03/v11's shared
    # subtrees. Outputs identical; oracles untouched.
    "v03_ann_ivf_topk",
    "v07_ann_kmeans_topk",
    "v10_ann_recall_at_k",
    "v11_ann_pq_topk",
    "v14_ann_ivf_pq_topk",
    "v20_quantization_recall",
    "v21_ann_mrr_eval",
    "v30_retrieval_quality",
    # (b3) hashing expression builders (guide §7.3 — planning cost):
    # char_codes / shingle_hashes / minhash_signature / band_keys /
    # simhash are now ONE parsed SQL expression each instead of py4j
    # Column chains (simhash alone cost 870-1780 ms of driver time per
    # query construction, re-paid every bench run).  The parsed trees
    # lower to the identical long arithmetic — outputs bit-identical,
    # oracles untouched; the analyzed-plan fingerprints drift only in
    # cast/coercion shape.  Every builder consumer below:
    "t03_simhash",
    "t04_ngram_jaccard_pairs",
    "t06_dedup_simhash_banded",
    "t11_doc_fingerprint",
    "t20_decontamination",
    "t21_decontamination_removal",
    "t40_triangle_count",
    "t49_lsh_band_sweep",
    "t65_containment_dedup",
    # same §7.3 conversion for t66's 64 weighted vote sums + packed
    # fingerprint (solo sf0.1 1.87 -> 1.35 s, construction 1.4 -> 0.35 s)
    "t66_idf_simhash",
    # (c) e50 (guide §1.2): per-event refill increments are
    # fold-independent on the sorted log, so they moved out of the
    # sequential token-bucket fold into one transform — the fold had
    # re-evaluated the exact-division refill 4x per event (no CSE inside
    # HOF lambdas). Same exact integer arithmetic; oracle untouched.
    "e50_token_bucket_replay",
)

# Deliberately-deleted queries, acknowledged by name (round-8 guard):
# scripts/plan_fingerprints.py refuses to drop a ledger entry unless the
# query is listed here, and tests/test_plan_fingerprints.py requires the
# same for entries that disappear vs the prior round's snapshot. A query
# can't be in _NEW_OR_CHANGED once deleted (registry import validates
# those names against QUERIES), so deletions get their own ledger.
_REMOVED: tuple[str, ...] = (
    # round 8: renamed to t13_udtf_demo (the production simple-rule
    # segmentation is t13b_sentence_split; the UDTF form is the
    # user-extensible demo surface — VERDICT r7 task #3).
    "t13_sentence_udtf",
)


def _stalest_order() -> tuple[str, ...]:
    """Queries ordered stalest-first by their latest driver row in the
    committed CORRECTNESS_r*.json ledger (never-sampled = round 0)."""
    import json
    import re as _re
    from pathlib import Path

    last_round: dict[str, int] = {}
    root = Path(__file__).resolve().parent.parent
    try:
        for f in sorted(root.glob("CORRECTNESS_r*.json")):
            m = _re.search(r"r(\d+)", f.name)
            if not m:
                continue
            rnd = int(m.group(1))
            for name in json.loads(f.read_text()):
                last_round[name] = max(last_round.get(name, 0), rnd)
    except (OSError, ValueError):  # pragma: no cover - ledger unreadable
        pass
    return tuple(
        sorted(QUERIES, key=lambda n: (last_round.get(n, 0), n))
    )


_PRIORITY = _NEW_OR_CHANGED + tuple(
    n for n in _stalest_order() if n not in set(_NEW_OR_CHANGED)
)
_unknown = set(_PRIORITY) - QUERIES.keys()
if _unknown:
    raise RuntimeError(f"priority list names unknown queries: {_unknown}")
QUERIES = {
    **{k: QUERIES[k] for k in _PRIORITY},
    **{k: v for k, v in QUERIES.items() if k not in set(_PRIORITY)},
}
ORACLES = {
    **{k: ORACLES[k] for k in _PRIORITY if k in ORACLES},
    **{k: v for k, v in ORACLES.items() if k not in set(_PRIORITY)},
}
