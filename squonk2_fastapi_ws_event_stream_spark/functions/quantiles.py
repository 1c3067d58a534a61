"""Distributed exact quantiles by histogram-pruned selection.

Spark's exact ``percentile()`` aggregate buffers EVERY input value in a
single aggregation buffer (one OpenHashMap per function instance, merged
onto one task) — fine at test scale, structurally job-fatal at 100 TB.
The scale-correct way to get an exact order statistic out of a huge
column is SELECTION, not aggregation:

1. one scan for (min, max, count);
2. one scan for a FIXED-width histogram (``N_BUCKETS`` counters,
   map-side combined — the shuffle carries at most N_BUCKETS rows no
   matter the input size);
3. locate the bucket holding the target rank in the collected histogram
   (driver-side, fixed-size by construction — the t34/x06 discipline);
4. take-ordered the j smallest values INSIDE that one bucket (a
   1/N_BUCKETS slice of the data on average) and read the j-th.

Identical-value pileups (a bucket that cannot be subdivided because
min == max inside it) resolve immediately — every value in the bucket
IS the answer. Skewed-but-divisible buckets recurse one more histogram
level, narrowing the value range each time, so the per-rank take-ordered
never materializes more than ``TAKE_CAP`` rows on one task.

The interpolated (``quantile_cont``) percentile then combines the two
adjacent order statistics with the same ``lo + frac * (hi - lo)``
expression both Spark and DuckDB use; callers round once at the end.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_BUCKETS = 4096
# Above this many rows in the located bucket, recurse another histogram
# level instead of take-ordering the bucket directly.
TAKE_CAP = 2_000_000
# Above this RANK, recurse too: orderBy().limit(k) funnels k rows into
# one task, so a huge k (e.g. the p99 rank of the whole column at the
# top level) must first be reduced to a small in-bucket rank by a
# histogram level — measured 11 s -> ~1 s cold at sf0.1 for x20.
RANK_CAP = 65_536
MAX_DEPTH = 8


def _ranks_smallest(
    df: DataFrame,
    col: str,
    ks: list[int],
    lo: float,
    hi: float,
    n_range: int,
    depth: int = 0,
) -> dict[int, float]:
    """Exact k-th smallest (1-indexed) of `df[col]` within [lo, hi] for
    EVERY rank in `ks` at once: one histogram scan is shared by all
    ranks at each level, and ranks landing in the same bucket share one
    bucket take (round-10 — the per-rank form re-scanned the column per
    order statistic: 6 ranks cost ~13 jobs ≈ 10 s cold at sf0.1; the
    shared form costs 1 histogram + |distinct buckets| takes ≈ 2 s)."""
    ks = sorted(set(ks))
    if lo == hi:
        return {k: lo for k in ks}
    if (n_range <= TAKE_CAP and ks[-1] <= RANK_CAP) or depth >= MAX_DEPTH:
        # No range re-filter here: `df` IS the row set whose count is
        # n_range — at the top level it's the whole column, in recursion
        # it's the parent's floor()-bucket filter. Re-filtering by
        # [lo, hi] could disagree with floor() at float bucket edges and
        # shift the k-th value (or strand fewer than k rows).
        # The sorted prefix up to the largest rank collects once (bounded
        # by RANK_CAP / TAKE_CAP) and serves every rank in the bucket.
        rows = df.orderBy(F.col(col).asc()).limit(ks[-1]).collect()
        vals = sorted(float(r[col]) for r in rows)
        return {k: vals[k - 1] for k in ks}
    width = (hi - lo) / N_BUCKETS
    # Clamp BOTH ends: [lo, hi] are derived bucket edges, and a row kept
    # by the parent's floor()-bucket filter can sit an ulp outside them —
    # clamping (instead of range-filtering) guarantees every row of `df`
    # lands in exactly one bucket, so the histogram total equals n_range
    # and the rank bookkeeping is exact.
    bucket = F.greatest(
        F.lit(0),
        F.least(F.lit(N_BUCKETS - 1), F.floor((F.col(col) - lo) / width)),
    )
    hist = (
        df.groupBy(bucket.alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    counts = {int(r["b"]): int(r["c"]) for r in hist}
    # Walk the cumulative histogram once, assigning every rank to its
    # bucket with its in-bucket rank.
    per_bucket: dict[int, dict[int, int]] = {}
    cum = 0
    it = iter(ks)
    k = next(it)
    for b in range(N_BUCKETS):
        c = counts.get(b, 0)
        while k is not None and cum + c >= k:
            per_bucket.setdefault(b, {})[k] = k - cum
            k = next(it, None)
        cum += c
        if k is None:
            break
    if k is not None:  # pragma: no cover - rank beyond histogram total
        raise AssertionError("rank beyond histogram total")
    out: dict[int, float] = {}
    for b, assigned in per_bucket.items():
        sub_lo = lo + b * width
        sub_hi = hi if b == N_BUCKETS - 1 else lo + (b + 1) * width
        # Filter with the SAME clamped bucket expression the histogram
        # counted with — sub's row count is exactly counts[b] by
        # construction.
        sub = df.filter(bucket == b)
        sub_vals = _ranks_smallest(
            sub, col, list(assigned.values()), sub_lo, sub_hi, counts[b], depth + 1
        )
        for orig_k, in_k in assigned.items():
            out[orig_k] = sub_vals[in_k]
    return out


def exact_percentiles(
    df: DataFrame, col: str, pcts: tuple[float, ...]
) -> tuple[int, dict[float, float]]:
    """(n, {p: exact interpolated percentile}) — quantile_cont semantics,
    computed by distributed selection (module docstring). The returned
    values are UNROUNDED; apply the engine-side ROUND once at use."""
    stats = df.agg(
        F.min(col).alias("lo"), F.max(col).alias("hi"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    lo, hi, n = float(stats["lo"]), float(stats["hi"]), int(stats["n"])
    # Collect the order-statistic indices every percentile needs.
    needed: set[int] = set()
    plan: dict[float, tuple[int, int, float]] = {}
    for p in pcts:
        r = p * (n - 1)
        lo_idx = int(math.floor(r)) + 1  # 1-indexed
        frac = r - math.floor(r)
        hi_idx = min(lo_idx + 1, n) if frac > 0 else lo_idx
        plan[p] = (lo_idx, hi_idx, frac)
        needed.update((lo_idx, hi_idx))
    values = _ranks_smallest(df, col, sorted(needed), lo, hi, n)
    out = {}
    for p, (lo_idx, hi_idx, frac) in plan.items():
        v_lo, v_hi = values[lo_idx], values[hi_idx]
        # BOTH engines interpolate as (ceil(r)-r)·lo + (r-floor(r))·hi
        # (Spark Percentile.getPercentile and DuckDB quantile_cont agree
        # bit-for-bit across the suite); lo + frac·(hi-lo) differs in
        # the last ulp (caught by x20's hash compare when this module
        # took over its exact arm).
        if frac == 0:
            out[p] = v_lo  # integral rank: both engines return the value
        else:
            r = p * (n - 1)
            out[p] = (math.ceil(r) - r) * v_lo + frac * v_hi
    return n, out


# Per-corpus memo: the exact-percentile scalars are the artifact a real
# pipeline computes once and reuses (x15's sweep, regression gates, SLA
# checks); keyed like dedup._SIG_CACHE but holding plain floats, so there
# is nothing to unpersist.
_PCT_CACHE: dict[tuple, tuple[int, dict[float, float]]] = {}


def staged_exact_percentiles(
    spark: SparkSession,
    sf_dir: str,
    table_name: str,
    col: str,
    pcts: tuple[float, ...],
    expr: str | None = None,
) -> tuple[int, dict[float, float]]:
    """`expr` (optional SQL) derives the column from the table row
    (e.g. x20's cents = CAST(ROUND(l_extendedprice * 100) AS BIGINT));
    the memo key includes it."""
    from ..tables import table

    key = (sf_dir, table_name, col, pcts, expr)
    if key not in _PCT_CACHE:
        src = table(spark, sf_dir, table_name)
        src = src.selectExpr(f"{expr} AS {col}") if expr else src.select(col)
        _PCT_CACHE[key] = exact_percentiles(src, col, pcts)
    return _PCT_CACHE[key]
