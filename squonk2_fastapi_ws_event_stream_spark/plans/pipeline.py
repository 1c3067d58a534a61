"""Correlated-subquery plans and the end-to-end training-data pipeline.

q20/q22 are written as ANSI SQL and executed VERBATIM by both engines
(``spark.sql`` over registered views, DuckDB over the same parquet): the
point is Catalyst's decorrelation — a correlated scalar subquery becomes a
per-key aggregate + join, NOT EXISTS becomes a left-anti join — so the
declared plan is the distributed plan with no hand-scheduling.

t15 chains the LLM-pipeline stages (quality scoring → exact dedup →
corpus statistics) into ONE declarative plan, the way a real training-data
job composes them: every stage stays in the same codegen pipeline until
the dedup shuffle (fixed-width sha2 keys), and the final per-language
aggregate is the only other shuffle.

Scale notes:
- q20: the decorrelated per-partkey aggregate shuffles lineitem once on
  l_partkey; the re-join is AQE-planned (broadcast when the agg side is
  small). No row explosion.
- q22: the scalar subquery is a 1-row broadcast; NOT EXISTS is a LeftAnti
  on o_custkey (keys only); nation dim broadcast.
- t15: dedup groups on sha2 digests (32-byte shuffle keys, the t05
  argument); the quality/token expressions are map-side codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import davg, floor_scaled, sql_floor_scaled
from ..operators.textstats import (
    BPE_ISH_PATTERN,
    SQL_QUALITY_MICRO,
    _occurrences,
    _sql_occurrences,
)
from ..tables import register_views, table

# ---------------------------------------------------------------------------
# q20 — small-quantity revenue by brand (TPC-H Q17 shape): correlated
# scalar subquery against the outer row's partkey. l_quantity is
# integer-valued, so AVG is an exact double in both engines; revenue sums
# use the decimal recipe.
# ---------------------------------------------------------------------------
SQL_Q20 = """
SELECT p_brand,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,10))) AS DOUBLE) / 7.0, 4)
         AS avg_yearly,
       COUNT(*) AS n_items
FROM lineitem l1 JOIN part p ON p.p_partkey = l1.l_partkey
WHERE l1.l_quantity < (
    SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = l1.l_partkey)
GROUP BY p_brand
"""


def q20_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(SQL_Q20)


# ---------------------------------------------------------------------------
# q22 — dormant high-balance customers (TPC-H Q22 shape): uncorrelated
# scalar subquery (global positive-balance average, decimal-exact) + a
# correlated NOT EXISTS that Catalyst turns into a left-anti join.
# ---------------------------------------------------------------------------
SQL_Q22 = """
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,10))) AS DOUBLE) / COUNT(*) AS v
  FROM customer WHERE c_acctbal > 0.0
)
SELECT n_name,
       COUNT(*) AS n_custs,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,10))) AS DOUBLE), 4) AS total_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT v FROM avg_bal)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
GROUP BY n_name
"""


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(SQL_Q22)


# ---------------------------------------------------------------------------
# q21 — suppliers who kept finished orders waiting (TPC-H Q21 shape): the
# double-correlation — EXISTS (another supplier shared the order) AND NOT
# EXISTS (another supplier was also late). "Late" is shipdate > orderdate
# + 60 days (this schema has no commit/receipt dates).
#
# The ORACLE keeps the declarative EXISTS/NOT-EXISTS text below; the engine
# runs the single-pass equivalent. Catalyst plans the subqueries as a
# left-semi + left-anti on l_orderkey — three passes over the fact table
# and two extra fact-sized shuffles. But both correlations are per-order
# set properties: EXISTS(other supplier) ⇔ the order has ≥ 2 distinct
# suppliers; NOT EXISTS(other LATE supplier) ⇔ the order's late rows all
# belong to ONE supplier. So one (l_orderkey, l_suppkey) aggregate over
# the orders-joined fact computes everything: n_late per supplier, then a
# per-order rollup (n_supp, n_late_supp, the unique late supplier, and its
# late-row count). lineitem is scanned ONCE; after the o_orderkey join the
# two group-bys reuse the same hash partitioning (l_orderkey ⊆ both key
# sets), so at cluster scale the fact crosses the network exactly once.
# ---------------------------------------------------------------------------
SQL_Q21 = """
SELECT s_name, COUNT(*) AS n_waits
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ordf = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAY")
    ).cast("long")
    per_supp = (
        li.join(ordf, li.l_orderkey == ordf.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum(late).alias("n_late"))
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum((F.col("n_late") > 0).cast("long")).alias("n_late_supp"),
        # In qualifying orders exactly one supplier is late, so the order's
        # late rows are all theirs; max() just picks that unique key.
        F.max(F.when(F.col("n_late") > 0, F.col("l_suppkey"))).alias("late_supp"),
        F.sum("n_late").alias("n_late_rows"),
    )
    qual = per_order.filter(
        (F.col("n_late_supp") == 1) & (F.col("n_supp") >= 2)
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        qual.join(supp, qual.late_supp == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("n_late_rows").cast("long").alias("n_waits"))
    )


# ---------------------------------------------------------------------------
# x03 — deterministic hash sampling: the experimentation primitive a
# training pipeline needs (reproducible 10% slices with no RNG state).
# The sample membership is a closed-form integer hash both engines compute
# identically — unlike TABLESAMPLE, the slice is stable across engines,
# partitionings, and reruns. Map-side filter → the sample never shuffles.
# ---------------------------------------------------------------------------
SAMPLE_PCT = 10
_MIX = 48271  # minstd multiplier


def x03_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice", "l_discount"
    )
    bucket = (
        (F.col("l_orderkey") * _MIX + F.col("l_linenumber")) % 1_000_003
    ) % 100
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,10)")
    return (
        li.filter(bucket < SAMPLE_PCT)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.sum(rev).cast("double"), 4).alias("sample_revenue"),
        )
    )


ORACLE_X03 = f"""
SELECT l_returnflag,
       COUNT(*) AS n_sampled,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,10)))
                  AS DOUBLE), 4) AS sample_revenue
FROM lineitem
WHERE ((l_orderkey * {_MIX} + l_linenumber) % 1000003) % 100 < {SAMPLE_PCT}
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q23 — datetime function battery (the q14-of-dates): every date/time
# function family the engine exposes, per order row, pinned UTC. Pure
# map-side projection — one codegen span, no shuffle.
# ---------------------------------------------------------------------------
def q23_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.quarter(d).alias("qtr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        F.dayofweek(d).alias("dow"),  # 1=Sunday (both engines below)
        F.dayofyear(d).alias("doy"),
        F.date_trunc("month", d).alias("month_start"),
        F.last_day(d).cast("timestamp").alias("month_end"),
        F.expr("o_orderdate + INTERVAL 1 MONTH").alias("plus_month"),
        F.datediff(F.lit("1999-01-01").cast("timestamp"), d).cast("int").alias(
            "days_to_1999"
        ),
        F.unix_timestamp(d).alias("epoch_s"),
        F.date_format(d, "yyyy-MM").alias("ym"),
    )


# DuckDB's dayofweek is 0=Sunday; Spark's 1=Sunday — shift to match.
ORACLE_Q23 = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
       CAST(month(o_orderdate) AS INTEGER) AS mo,
       CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom,
       CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
       CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
       date_trunc('month', o_orderdate) AS month_start,
       CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
       o_orderdate + INTERVAL 1 MONTH AS plus_month,
       CAST(date_diff('day', o_orderdate, TIMESTAMP '1999-01-01 00:00:00') AS INTEGER)
         AS days_to_1999,
       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
       strftime(o_orderdate, '%Y-%m') AS ym
FROM orders
"""


# ---------------------------------------------------------------------------
# x04 — skew-safe two-phase aggregation as a ledger query: the salted
# partial→merge plan from functions/skew.py over lineitem's return-flag
# groups (3 giant groups — exactly the hot-key shape that pins a naive
# groupBy onto 3 tasks). The salt assignment is partition-dependent, but
# algebraic merges (decimal sum / count / max) make the OUTPUT independent
# of salting and partitioning — which is what the oracle (a plain GROUP
# BY) and tests/test_determinism.py verify.
# ---------------------------------------------------------------------------
def x04_skew_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.skew import two_phase_agg

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    out = two_phase_agg(
        li,
        keys=["l_returnflag"],
        aggs={
            "sum_qty": (F.sum(F.col("l_quantity").cast("decimal(18,10)")), "sum"),
            "n_items": (F.count(F.lit(1)), "sum"),
            "max_price": (F.max("l_extendedprice"), "max"),
        },
    )
    return out.select(
        "l_returnflag",
        F.round(F.col("sum_qty").cast("double"), 4).alias("sum_qty"),
        "n_items",
        F.col("max_price").alias("max_price"),
    )


ORACLE_X04 = """
SELECT l_returnflag,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,10))) AS DOUBLE), 4) AS sum_qty,
       COUNT(*) AS n_items,
       MAX(l_extendedprice) AS max_price
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# t15 — the pipeline composition: synthesize dups (every 50th doc, ids
# +10000, as in t01/t05) → sha2 exact dedup keeping the lowest doc_id →
# quality-score (t09 formula) and token-count (t10) the survivors → drop
# low-quality docs → per-language corpus stats.
# ---------------------------------------------------------------------------
QUALITY_MIN = 0.6


def t15_pipeline_quality_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    copies = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text", "lang", "n_chars"
    )
    unioned = docs.unionByName(copies)
    # Exact dedup on the 32-byte digest; identical texts keep the lowest id.
    w = Window.partitionBy("digest").orderBy("doc_id")
    kept = (
        unioned.withColumn("digest", F.sha2(F.col("text"), 256))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("digest", "rn")
    )
    # Quality (t09 formula) + BPE-ish token count (t10) — map-side codegen.
    n_words = F.size(F.split(F.col("text"), " ")).cast("long")
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    stop_hits = (
        _occurrences(padded, " the ") + _occurrences(padded, " a ") + _occurrences(padded, " of ")
    )
    bpe_tokens = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_ISH_PATTERN), F.lit(0))
    ).cast("long")
    # exact-integer micro score over micro-integer ratios (round-10
    # conversion: the t09 ratios flow as truncating-DIV micros end to
    # end — the old published 6-dp ROUND doubles carried a reachable
    # 1e-6 half boundary)
    from ..operators.textstats import quality_score_micro_expr

    scored = kept.select(
        "doc_id",
        "lang",
        "n_chars",
        n_words.alias("n_words"),
        stop_hits.alias("stop_hits"),
        bpe_tokens.alias("toks"),
    ).select(
        "doc_id",
        "lang",
        "n_words",
        "toks",
        F.expr("(n_chars - (n_words - 1)) * 1000000 DIV n_words").alias("awl_micro"),
        F.expr("stop_hits * 1000000 DIV n_words").alias("stop_micro"),
    ).withColumn("q_micro", quality_score_micro_expr())
    return (
        scored.filter(F.col("q_micro") >= int(QUALITY_MIN * 1_000_000))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("total_tokens"),
            # exact: integer sum, truncating per-member micro average
            (
                F.expr("SUM(q_micro) DIV COUNT(1)") / 1_000_000.0
            ).alias("avg_quality"),
        )
    )


def _oracle_t15() -> str:
    padded = "(' ' || lower(text) || ' ')"
    stop_hits = " + ".join(_sql_occurrences(padded, w) for w in (" the ", " a ", " of "))
    return f"""
WITH unioned AS (
  SELECT doc_id, text, lang, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text, lang, n_chars
  FROM documents WHERE doc_id % 50 = 0
),
kept AS (
  SELECT doc_id, text, lang, n_chars FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
    FROM unioned
  ) WHERE rn = 1
),
base AS (
  SELECT doc_id, lang, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         ({stop_hits}) AS stop_hits,
         CAST(len(regexp_extract_all(lower(text), '{BPE_ISH_PATTERN}')) AS BIGINT) AS toks
  FROM kept
),
m AS (
  SELECT doc_id, lang, toks, n_words,
         stop_hits * 1000000 // n_words AS stop_micro,
         (n_chars - (n_words - 1)) * 1000000 // n_words AS awl_micro
  FROM base
),
s AS (
  SELECT doc_id, lang, toks, {SQL_QUALITY_MICRO} AS q_micro FROM m
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS total_tokens,
       (SUM(q_micro) // COUNT(*)) / 1000000.0 AS avg_quality
FROM s WHERE q_micro >= {int(QUALITY_MIN * 1_000_000)}
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# t16 — array/collection function battery over whitespace tokens: the
# list-manipulation surface (size/distinct/contains/min/max/slice/reverse)
# with scalar outputs only (array cells don't canonicalize for hashing).
# Map-side, one codegen span.
# ---------------------------------------------------------------------------
def t16_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = F.split(F.lower(F.col("text")), " ")
    return docs.select(
        "doc_id",
        F.size(tok).alias("n_tokens"),
        F.size(F.array_distinct(tok)).alias("n_distinct"),
        F.array_contains(tok, "the").alias("has_the"),
        F.array_min(tok).alias("min_token"),
        F.array_max(tok).alias("max_token"),
        F.concat_ws("-", F.slice(tok, 1, 3)).alias("first3"),
        F.element_at(F.reverse(tok), 1).alias("last_token"),
        F.array_position(tok, "the").cast("long").alias("first_the_pos"),
    )


ORACLE_T16 = """
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tok FROM documents)
SELECT doc_id,
       CAST(len(tok) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct(tok)) AS INTEGER) AS n_distinct,
       list_contains(tok, 'the') AS has_the,
       list_min(tok) AS min_token,
       list_max(tok) AS max_token,
       array_to_string(tok[1:3], '-') AS first3,
       tok[-1] AS last_token,
       CAST(COALESCE(list_position(tok, 'the'), 0) AS BIGINT) AS first_the_pos
FROM t
"""


# ---------------------------------------------------------------------------
# q24 — conditional / null-handling battery: CASE, COALESCE, NULLIF,
# GREATEST/LEAST, IF over customer balances (NULLs synthesized with NULLIF
# since the test tables are complete). Verbatim ANSI SQL on both engines.
# ---------------------------------------------------------------------------
SQL_Q24 = """
SELECT c_custkey,
       CASE WHEN c_acctbal > 5000 THEN 'high'
            WHEN c_acctbal > 0 THEN 'mid'
            ELSE 'low' END AS bal_bucket,
       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_or_other,
       GREATEST(c_acctbal, 0.0) AS bal_floor0,
       LEAST(c_acctbal, 1000.0) AS bal_cap1000,
       (NULLIF(c_acctbal, c_acctbal) IS NULL) AS nullif_self_is_null,
       CASE WHEN c_nationkey % 2 = 0 THEN c_nationkey ELSE -c_nationkey END
         AS signed_nation
FROM customer
"""


def q24_conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(SQL_Q24)


# ---------------------------------------------------------------------------
# x05 — MERGEABLE HLL sketches (DataSketches): per-day sketches built in
# one pass, unioned to a global estimate — the pre-aggregation workflow
# that makes 100-TB distinct counts cheap (store k-byte sketches per
# partition/day in ETL; merging is associative, re-scanning never needed).
# The sketch binary is engine-specific, so (the x01 recipe) the hashed
# output is the exact count + a tolerance verdict the oracle mirrors.
# ---------------------------------------------------------------------------
HLL_LG_K = 12  # 4096 buckets → ~1.6% relative standard error


def x05_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("ts", "user_id")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(HLL_LG_K)).alias("sk")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    return merged.crossJoin(exact).select(
        "n_days",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users")) / F.col("exact_users")
            <= F.lit(3 * 0.016)  # 3σ of lgK=12's ~1.6% RSE
        ).alias("within_tol"),
    )


ORACLE_X05 = """
SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_tol
FROM events
"""


QUERIES = {
    "q20_small_quantity_revenue": q20_small_quantity_revenue,
    "q21_waiting_suppliers": q21_waiting_suppliers,
    "q22_dormant_customers": q22_dormant_customers,
    "q23_datetime_functions": q23_datetime_functions,
    "q24_conditional_functions": q24_conditional_functions,
    "t16_array_ops": t16_array_ops,
    "x03_hash_sample": x03_hash_sample,
    "x04_skew_two_phase_agg": x04_skew_two_phase_agg,
    "x05_hll_sketch_merge": x05_hll_sketch_merge,
    "t15_pipeline_quality_dedup_stats": t15_pipeline_quality_dedup_stats,
}

ORACLES = {
    "q20_small_quantity_revenue": SQL_Q20,
    "q21_waiting_suppliers": SQL_Q21,
    "q22_dormant_customers": SQL_Q22,
    "q23_datetime_functions": ORACLE_Q23,
    "q24_conditional_functions": SQL_Q24,
    "t16_array_ops": ORACLE_T16,
    "x03_hash_sample": ORACLE_X03,
    "x04_skew_two_phase_agg": ORACLE_X04,
    "x05_hll_sketch_merge": ORACLE_X05,
    "t15_pipeline_quality_dedup_stats": _oracle_t15(),
}


# ---------------------------------------------------------------------------
# x06 — Count-Min Sketch heavy hitters: the bounded-memory frequency
# estimator (d x w counters, estimate = min over d rows) built with the
# repo's closed-form hash family, so the sketch is DETERMINISTIC and the
# oracle reproduces it exactly — no tolerance verdict needed. The sketch
# build shuffles at most d*w counter rows (map-side partial agg over key
# cardinality d*w = 4096), independent of corpus size; CMS guarantees
# estimate >= true, and the overcount column exposes the collision error.
# ---------------------------------------------------------------------------
CMS_D = 4
CMS_W = 1024
CMS_P = 1_000_000_007
CMS_A = [4973, 6203, 7369, 8539]
CMS_B = [911, 1723, 2617, 3469]
CMS_TOPN = 10


def x06_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id")
    rows = [
        ev.select(
            F.lit(i).alias("row_i"),
            ((F.col("user_id") * CMS_A[i] + CMS_B[i]) % CMS_P % CMS_W).alias("bucket"),
        )
        for i in range(CMS_D)
    ]
    hashed = rows[0]
    for r in rows[1:]:
        hashed = hashed.unionByName(r)
    counters = hashed.groupBy("row_i", "bucket").agg(F.count(F.lit(1)).alias("c"))

    # Heavy-hitter query set: top-N true counts (deterministic tie-break).
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    top = truth.orderBy(F.col("true_n").desc(), F.col("user_id").asc()).limit(CMS_TOPN)

    probes = top.select(
        "user_id",
        "true_n",
        *[
            ((F.col("user_id") * CMS_A[i] + CMS_B[i]) % CMS_P % CMS_W).alias(f"b{i}")
            for i in range(CMS_D)
        ],
    )
    est = probes
    for i in range(CMS_D):
        ci = counters.filter(F.col("row_i") == i).select(
            F.col("bucket").alias(f"b{i}"), F.col("c").alias(f"c{i}")
        )
        est = est.join(F.broadcast(ci), f"b{i}")
    cms = F.least(*[F.col(f"c{i}") for i in range(CMS_D)])
    return est.select(
        "user_id",
        "true_n",
        cms.alias("cms_estimate"),
        (cms - F.col("true_n")).alias("overcount"),
    )


def _oracle_x06() -> str:
    hash_cols = ", ".join(
        f"(user_id * {CMS_A[i]} + {CMS_B[i]}) % {CMS_P} % {CMS_W} AS b{i}"
        for i in range(CMS_D)
    )
    counter_ctes = ",\n".join(
        f"""cnt{i} AS (
  SELECT (user_id * {CMS_A[i]} + {CMS_B[i]}) % {CMS_P} % {CMS_W} AS b{i},
         COUNT(*) AS c{i}
  FROM events GROUP BY 1
)"""
        for i in range(CMS_D)
    )
    joins = "\n".join(f"JOIN cnt{i} USING (b{i})" for i in range(CMS_D))
    least = "LEAST(" + ", ".join(f"c{i}" for i in range(CMS_D)) + ")"
    return f"""
WITH truth AS (
  SELECT user_id, COUNT(*) AS true_n FROM events GROUP BY user_id
),
top AS (
  SELECT user_id, true_n FROM truth
  ORDER BY true_n DESC, user_id ASC LIMIT {CMS_TOPN}
),
probes AS (
  SELECT user_id, true_n, {hash_cols} FROM top
),
{counter_ctes}
SELECT user_id, true_n,
       {least} AS cms_estimate,
       {least} - true_n AS overcount
FROM probes
{joins}
"""


QUERIES["x06_cms_heavy_hitters"] = x06_cms_heavy_hitters
ORACLES["x06_cms_heavy_hitters"] = _oracle_x06()


# ---------------------------------------------------------------------------
# x09 — sketch-based join-size estimation (AMS/CMS inner product,
# Alon-Matias-Szegedy '96 / Cormode-Muthukrishnan '05): estimate
# |lineitem ⋈ orders| on orderkey as min over sketch rows of
# Σ_w cms_L[i,w] · cms_O[i,w], without executing the join. This is the
# cardinality estimate a cost-based planner wants before choosing a join
# strategy; CMS guarantees estimate >= true, and the deterministic hash
# family makes the whole sketch — and therefore the estimate — exactly
# oracle-checkable (no tolerance verdict needed).
#
# Scale: each side folds to d×w counters (map-side partial agg, shuffle
# carries ≤ d·w rows regardless of table size); the inner product joins
# counters on (row, bucket) — d·w rows against d·w rows. The true join
# size is computed here only as the verdict column; a planner would skip
# it (that is the point).
# ---------------------------------------------------------------------------
def x09_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    def cms_counters(df, key):
        rows = [
            df.select(
                F.lit(i).alias("row_i"),
                ((F.col(key) * CMS_A[i] + CMS_B[i]) % CMS_P % CMS_W).alias("bucket"),
            )
            for i in range(CMS_D)
        ]
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        return out.groupBy("row_i", "bucket").agg(F.count(F.lit(1)).alias("c"))

    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey")
    cl = cms_counters(li, "l_orderkey").withColumnRenamed("c", "c_l")
    co = cms_counters(orders, "o_orderkey").withColumnRenamed("c", "c_o")
    per_row = (
        cl.join(co, ["row_i", "bucket"])
        .groupBy("row_i")
        .agg(F.sum(F.col("c_l") * F.col("c_o")).alias("dot"))
    )
    est = per_row.agg(F.min("dot").alias("ams_estimate"))
    truth = li.join(orders, li.l_orderkey == orders.o_orderkey).agg(
        F.count(F.lit(1)).alias("true_join_size")
    )
    return (
        truth.crossJoin(F.broadcast(est))
        .select(
            "true_join_size",
            "ams_estimate",
            (F.col("ams_estimate") - F.col("true_join_size")).alias("overcount"),
            (F.col("ams_estimate") >= F.col("true_join_size")).alias("never_underestimates"),
        )
    )


def _oracle_x09() -> str:
    cl_ctes = ",\n".join(
        f"""cl{i} AS (
  SELECT (l_orderkey * {CMS_A[i]} + {CMS_B[i]}) % {CMS_P} % {CMS_W} AS bucket,
         COUNT(*) AS c_l
  FROM lineitem GROUP BY 1
),
co{i} AS (
  SELECT (o_orderkey * {CMS_A[i]} + {CMS_B[i]}) % {CMS_P} % {CMS_W} AS bucket,
         COUNT(*) AS c_o
  FROM orders GROUP BY 1
),
dot{i} AS (
  SELECT SUM(c_l * c_o) AS dot FROM cl{i} JOIN co{i} USING (bucket)
)"""
        for i in range(CMS_D)
    )
    union_dots = " UNION ALL ".join(f"SELECT dot FROM dot{i}" for i in range(CMS_D))
    return f"""
WITH {cl_ctes},
est AS (SELECT CAST(MIN(dot) AS BIGINT) AS ams_estimate FROM ({union_dots})),
truth AS (
  SELECT COUNT(*) AS true_join_size
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT t.true_join_size,
       e.ams_estimate,
       CAST(e.ams_estimate - t.true_join_size AS BIGINT) AS overcount,
       e.ams_estimate >= t.true_join_size AS never_underestimates
FROM truth t CROSS JOIN est e
"""


QUERIES["x09_join_size_estimate"] = x09_join_size_estimate
ORACLES["x09_join_size_estimate"] = _oracle_x09()


# ---------------------------------------------------------------------------
# x10 — HLL set algebra by inclusion-exclusion: |A ∩ B| and the Jaccard of
# two audience sets estimated from three sketches (A, B, A ∪ B merged) —
# no rescan, no exact distinct join. HLL unions natively; intersections
# come from |A| + |B| - |A ∪ B|. The error compounds (both operands'
# RSE), which is exactly what the tolerance verdict prices: the
# audience-overlap question every event platform asks, answered from
# per-segment sketches that were already built for x05-style counting.
# Looser 3σ bound than x05's because subtraction cancels significant
# digits when the intersection is small relative to the union.
# ---------------------------------------------------------------------------
def x10_hll_set_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    a = ev.filter(F.col("event_type") == "view")
    b = ev.filter(F.col("event_type") == "purchase")
    sk = (
        a.agg(F.hll_sketch_agg("user_id", F.lit(HLL_LG_K)).alias("sk_a"))
        .crossJoin(b.agg(F.hll_sketch_agg("user_id", F.lit(HLL_LG_K)).alias("sk_b")))
    )
    est = sk.select(
        F.hll_sketch_estimate("sk_a").alias("na"),
        F.hll_sketch_estimate("sk_b").alias("nb"),
        F.hll_sketch_estimate(
            F.expr("hll_union(sk_a, sk_b)")
        ).alias("nu"),
    ).select(
        "na",
        "nb",
        "nu",
        (F.col("na") + F.col("nb") - F.col("nu")).alias("approx_overlap"),
    )
    exact = (
        a.select("user_id")
        .intersect(b.select("user_id"))
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    exact_u = (
        a.select("user_id")
        .union(b.select("user_id"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("exact_union"))
    )
    return (
        est.crossJoin(exact)
        .crossJoin(exact_u)
        .select(
            "exact_overlap",
            "exact_union",
            (
                F.abs(F.col("approx_overlap") - F.col("exact_overlap"))
                / F.col("exact_union")
                <= F.lit(3 * 3 * 0.016)  # 3 sketches × 3σ of lgK=12 RSE
            ).alias("within_tol"),
        )
    )


ORACLE_X10 = """
WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT (SELECT COUNT(*) FROM (SELECT user_id FROM a INTERSECT SELECT user_id FROM b))
         AS exact_overlap,
       (SELECT COUNT(*) FROM (SELECT user_id FROM a UNION SELECT user_id FROM b))
         AS exact_union,
       TRUE AS within_tol
"""


QUERIES["x10_hll_set_intersection"] = x10_hll_set_intersection
ORACLES["x10_hll_set_intersection"] = ORACLE_X10


# ---------------------------------------------------------------------------
# x11 — sampled-aggregate error audit: per-event-type mean(value) from the
# 10% deterministic hash sample (x03's minstd bucketing, keyed on
# event_id) side-by-side with the exact mean, plus the absolute error.
# This is the eval harness for approximate query processing: it answers
# "is the sample representative enough to serve this aggregate?" before a
# dashboard switches to the sampled table. At 100 TB the exact branch is
# the one full scan you run once to CERTIFY the sample; thereafter only
# the 10% branch runs. Both branches are map-side partial aggregates on
# the same scan shape; means use the exact-decimal-sum discipline
# (functions/numeric.py) so both engines agree bit-for-bit.
# ---------------------------------------------------------------------------
def x11_sample_error_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Averages in e10 fixed-point BIGINT: per-row values quantize to
    # DECIMAL(18,10) exactly-as-rounded (same both engines), sum exactly,
    # and the micro-average is one truncating DIV — so exact_avg,
    # sample_avg AND their abs_err are the same integers on both engines
    # (the old ROUND(double-quotient, 6) was the t09 class; value >= 0 in
    # this corpus, so DIV == // here).  floor(floor(a/b)/c) == floor(a/bc)
    # makes the one-step e10 -> micro division exact.
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(18,10)") * F.lit(10_000_000_000))
        .cast("decimal(38,0)")
        .alias("v_e10"),
    )
    in_sample = ((F.col("event_id") * _MIX) % 1_000_003) % 100 < SAMPLE_PCT
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("v_e10").alias("se"),
    )
    sampled = (
        ev.filter(in_sample)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("v_e10").alias("ss"),
        )
    )
    staged = exact.join(sampled, "event_type").select(
        "event_type",
        F.col("n_total").cast("long").alias("n_total"),
        F.col("n_sampled").cast("long").alias("n_sampled"),
        F.expr("CAST(se div (n_total * 10000) AS BIGINT)").alias("ea_micro"),
        F.expr("CAST(ss div (n_sampled * 10000) AS BIGINT)").alias("sa_micro"),
    )
    return staged.select(
        "event_type",
        "n_total",
        "n_sampled",
        (F.col("ea_micro") / F.lit(1e6)).alias("exact_avg"),
        (F.col("sa_micro") / F.lit(1e6)).alias("sample_avg"),
        (F.abs(F.col("ea_micro") - F.col("sa_micro")) / F.lit(1e6)).alias(
            "abs_err"
        ),
    )


ORACLE_X11 = f"""
WITH ev AS (
  SELECT event_id, event_type,
         CAST(CAST(value AS DECIMAL(18,10)) * 10000000000 AS HUGEINT) AS v_e10
  FROM events
),
exact AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_total,
         SUM(v_e10) AS se
  FROM ev GROUP BY event_type
),
sampled AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sampled,
         SUM(v_e10) AS ss
  FROM ev
  WHERE ((event_id * {_MIX}) % 1000003) % 100 < {SAMPLE_PCT}
  GROUP BY event_type
),
staged AS (
  SELECT e.event_type, e.n_total, s.n_sampled,
         CAST(e.se // (e.n_total * 10000) AS BIGINT) AS ea_micro,
         CAST(s.ss // (s.n_sampled * 10000) AS BIGINT) AS sa_micro
  FROM exact e JOIN sampled s USING (event_type)
)
SELECT event_type, n_total, n_sampled,
       ea_micro / 1e6 AS exact_avg,
       sa_micro / 1e6 AS sample_avg,
       ABS(ea_micro - sa_micro) / 1e6 AS abs_err
FROM staged
"""


QUERIES["x11_sample_error_bounds"] = x11_sample_error_bounds
ORACLES["x11_sample_error_bounds"] = ORACLE_X11


# ---------------------------------------------------------------------------
# x12 — HLL precision sweep (v16's eval pattern applied to sketches): one
# scan builds sketches at lgK ∈ {4, 8, 12} side by side; each estimate is
# verdict-checked against the exact count at its own 3σ bound
# (RSE ≈ 1.04/√2^lgK). This is the memory/accuracy tuning curve a
# 100-TB pipeline reads before fixing its per-partition sketch size —
# lgK=4 is 16 buckets, lgK=12 is 4096; the scan cost is identical.
# ---------------------------------------------------------------------------
X12_LGKS = (4, 8, 12)


def x12_hll_precision_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id")
    aggs = [
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(k))).alias(f"e{k}")
        for k in X12_LGKS
    ] + [F.countDistinct("user_id").alias("exact_users")]
    one = ev.agg(*aggs)
    rows = []
    for k in X12_LGKS:
        rse = 1.04 / (2 ** (k / 2))
        rows.append(
            f"{k}, exact_users, "
            f"abs(e{k} - exact_users) / exact_users <= {3 * rse:.6f}"
        )
    return one.select(
        F.expr(f"stack({len(X12_LGKS)}, " + ", ".join(rows) + ")").alias(
            "lg_k", "exact_users", "within_tol"
        )
    ).select(
        F.col("lg_k").cast("int").alias("lg_k"),
        F.col("exact_users").cast("long").alias("exact_users"),
        "within_tol",
    )


ORACLE_X12 = f"""
SELECT CAST(k AS INTEGER) AS lg_k,
       (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_users,
       TRUE AS within_tol
FROM (SELECT unnest([{", ".join(str(k) for k in X12_LGKS)}]) AS k)
"""


QUERIES["x12_hll_precision_sweep"] = x12_hll_precision_sweep
ORACLES["x12_hll_precision_sweep"] = ORACLE_X12


# ---------------------------------------------------------------------------
# x13 — KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.
# 2002): hash every key with the engine's closed-form affine hash
# (cross-engine deterministic, uniform over [0, P)), keep the K smallest
# DISTINCT hash values, estimate n ≈ (K−1)·P / h_(K). The per-group
# alternative to one global HLL when you also need the sketch to support
# set operations by hash-merge.
#
# Scale: distinct-hash reduction is one shuffle of 8-byte hashes with
# map-side combine; "K smallest" is orderBy+limit =
# TakeOrderedAndProject (per-partition partial top-k, never a global
# sort). The exact side exists only to grade the estimate.
# ---------------------------------------------------------------------------
X13_K = 64
# Knuth multiplicative hash: the multiplier must be LARGE relative to P so
# consecutive integer keys wrap mod P every couple of steps (a small
# MINHASH-family prime leaves small ids unwrapped → the k-th min hash sits
# ~4000x below uniform and the estimate overshoots ~1000x — measured).
X13_A, X13_B = 2654435761, 1723
_X13_P = 1_000_000_007
# Reduce BOTH factors mod P before multiplying: a raw user_id * X13_A
# overflows int64 once user_id exceeds ~3.47e9 — Spark silently wraps to
# negative hashes (breaking the k-min ordering and the (K-1)*P/h_K
# estimator) while DuckDB raises, a latent cross-engine divergence at the
# design scale. (u % P) * (A % P) stays below ~6.6e17 for ANY BIGINT key,
# and is congruent mod P, so hash values are unchanged for all keys the
# unreduced form could handle. The reduced multiplier (~6.5e8) is still
# large relative to P, so consecutive ids keep wrapping (the comment
# above).
X13_A_MOD = X13_A % _X13_P


def _kmv_hash(col):
    return ((col % _X13_P) * X13_A_MOD + X13_B) % _X13_P


_SQL_KMV_HASH = f"((user_id % {_X13_P}) * {X13_A_MOD} + {X13_B}) % {_X13_P}"


def x13_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id")
    hashed = ev.select(
        _kmv_hash(F.col("user_id")).alias("h")
    ).distinct()
    kmin = hashed.orderBy(F.col("h").asc()).limit(X13_K)
    sketch = kmin.agg(
        F.count(F.lit(1)).alias("k_kept"),
        F.max("h").alias("kth_min_hash"),
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    return sketch.crossJoin(exact).select(
        F.col("k_kept").cast("long").alias("k_kept"),
        F.col("kth_min_hash").cast("long").alias("kth_min_hash"),
        # Standard KMV estimator with the small-n branch: fewer than K
        # distinct hashes means the sketch holds the WHOLE hash set — the
        # count is exact, and (K−1)·P/h_(K) would wildly overshoot.
        F.when(F.col("k_kept") < X13_K, F.col("k_kept").cast("double"))
        .otherwise(
            F.expr(
                f"(k_kept - 1) * {_X13_P} * 10000 div kth_min_hash"
            )
            / F.lit(1e4)
        )
        .alias("kmv_estimate"),
        F.col("exact_users").cast("long").alias("exact_users"),
    )


ORACLE_X13 = f"""
WITH hashed AS (
  SELECT DISTINCT {_SQL_KMV_HASH} AS h FROM events
),
kmin AS (SELECT h FROM hashed ORDER BY h ASC LIMIT {X13_K}),
sketch AS (SELECT COUNT(*) AS k_kept, MAX(h) AS kth_min_hash FROM kmin)
SELECT CAST(k_kept AS BIGINT) AS k_kept,
       CAST(kth_min_hash AS BIGINT) AS kth_min_hash,
       CASE WHEN k_kept < {X13_K} THEN CAST(k_kept AS DOUBLE)
            ELSE (k_kept - 1) * {_X13_P} * 10000 // kth_min_hash / 1e4
       END AS kmv_estimate,
       (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_users
FROM sketch
"""


QUERIES["x13_kmv_distinct"] = x13_kmv_distinct
ORACLES["x13_kmv_distinct"] = ORACLE_X13


# ---------------------------------------------------------------------------
# x14 — linear-counting distinct estimate (Whang et al. 1990): hash keys
# into M buckets, count occupied buckets z, estimate n ≈ M·ln(M/(M−z)).
# The low-cardinality regime's sketch (beats HLL when n ≲ M); the
# occupied-bucket count is ONE shuffle of ≤ M bucket ids with map-side
# combine — the bitmap never materializes as M rows per executor.
# Cross-engine float note: ln runs on the same IEEE double ratio in both
# engines; the estimate is rounded to 2 decimals, absorbing any last-ulp
# libm difference (the counts themselves are exact integers).
# ---------------------------------------------------------------------------
X14_M = 4096


def x14_linear_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id")
    occupied = (
        ev.select(
            (_kmv_hash(F.col("user_id")) % X14_M).alias("bucket")
        )
        .distinct()
        .agg(F.count(F.lit(1)).alias("occupied"))
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    m = F.lit(float(X14_M))
    return occupied.crossJoin(exact).select(
        F.lit(X14_M).alias("m_buckets"),
        F.col("occupied").cast("long").alias("occupied"),
        # greatest(1, m−z) guards the saturated regime (z = m → ln ∞): the
        # sketch then reports its ceiling m·ln(m) instead of dividing by 0.
        # round-10 conversion: floor_scaled removes the ROUND procedure
        # asymmetry; the residual risk is the shared ln-libm ulp (class 1).
        floor_scaled(
            m * F.log(m / F.greatest(F.lit(1.0), m - F.col("occupied"))), 2
        ).alias("lc_estimate"),
        F.col("exact_users").cast("long").alias("exact_users"),
    )


ORACLE_X14 = f"""
WITH occ AS (
  SELECT COUNT(*) AS occupied FROM (
    SELECT DISTINCT ({_SQL_KMV_HASH}) % {X14_M}
      AS bucket
    FROM events)
)
SELECT {X14_M} AS m_buckets,
       CAST(occupied AS BIGINT) AS occupied,
       (FLOOR({X14_M}.0 * ln({X14_M}.0 /
             GREATEST(1.0, {X14_M}.0 - occupied)) * 100.0) / 100.0 + 0.0)
         AS lc_estimate,
       (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_users
FROM occ
"""


QUERIES["x14_linear_counting"] = x14_linear_counting
ORACLES["x14_linear_counting"] = ORACLE_X14


# ---------------------------------------------------------------------------
# x15 — percentile-sketch accuracy sweep (x12's tuning curve for
# quantiles): percentile_approx at accuracy ∈ {100, 1000, 10000} on
# lineitem prices, each verdict-checked against its published RANK-error
# bound (≤ n/accuracy; we allow 10x slack — rank, not value, because
# heavy tails make adjacent order statistics arbitrarily far apart in
# value, the x02 rationale). The curve read before fixing sketch memory:
# accuracy is the GK-sketch size knob.
#
# Scale: the EXACT reference percentiles come from the staged
# histogram-pruned selection (functions/quantiles.py — Spark's own
# percentile() buffers every value in one aggregation buffer, job-fatal
# at 100 TB), memoized once per corpus. The six GK sketches build in ONE
# scan (small mergeable buffers); the rank audit is one more scan with
# the 1-row answer broadcast. Hash-checked columns are the exact
# percentiles + boolean verdicts — the approx VALUES are
# engine-specific and stay out of the comparison.
# ---------------------------------------------------------------------------
X15_ACCS = (100, 1000, 10_000)
X15_PCTS = (0.5, 0.95)


def x15_quantile_accuracy_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.quantiles import staged_exact_percentiles

    li = table(spark, sf_dir, "lineitem").select("l_extendedprice")
    n, exact = staged_exact_percentiles(
        spark, sf_dir, "lineitem", "l_extendedprice", X15_PCTS
    )
    # ONE GK sketch per accuracy, queried at every percentile (r11
    # optimization): percentile_approx(col, [p...], acc) builds the same
    # deterministic QuantileSummaries a single-p call builds — the
    # summary never depends on the query points — so each a{p}_{acc}
    # value is identical to the old one-sketch-per-(p, acc) form while
    # the per-row insert work drops from |PCTS|x|ACCS| sketches to
    # |ACCS| (guide §1.2 "per-task work": the ObjectHashAggregate's
    # per-row GK inserts dominate this query's scan stage).
    agg = li.agg(
        *[
            F.percentile_approx("l_extendedprice", list(X15_PCTS), acc).alias(
                f"pa_{acc}"
            )
            for acc in X15_ACCS
        ]
    ).select(
        *[
            F.element_at(F.col(f"pa_{acc}"), i + 1).alias(f"a{int(p*100)}_{acc}")
            for acc in X15_ACCS
            for i, p in enumerate(X15_PCTS)
        ]
    )
    ranks = li.crossJoin(F.broadcast(agg)).agg(
        *[
            F.sum(
                (F.col("l_extendedprice") <= F.col(f"a{int(p*100)}_{acc}")).cast("long")
            ).alias(f"r{int(p*100)}_{acc}")
            for p in X15_PCTS
            for acc in X15_ACCS
        ]
    )
    # Stack rows and aliases iterate X15_PCTS — any percentile list works.
    rows = []
    for acc in X15_ACCS:
        checks = [
            f"abs(r{int(p * 100)}_{acc} - {p!r} * {n}) "
            f"<= greatest(2.0, 10.0 * {n} / {acc})"
            for p in X15_PCTS
        ]
        rows.append(f"{acc}, " + ", ".join(checks))
    ok_aliases = [f"p{int(p * 100)}_ok" for p in X15_PCTS]
    stacked = ranks.select(
        F.expr(f"stack({len(X15_ACCS)}, " + ", ".join(rows) + ")").alias(
            "accuracy", *ok_aliases
        )
    )
    return stacked.select(
        F.col("accuracy").cast("int").alias("accuracy"),
        F.lit(n).cast("long").alias("n"),
        *[
            # round-10 conversion: the q14 floor recipe — both engines
            # interpolate the same double; floor-of-scaled is exact.
            floor_scaled(F.lit(exact[p]), 6).alias(f"p{int(p * 100)}_exact")
            for p in X15_PCTS
        ],
        *ok_aliases,
    )


ORACLE_X15 = f"""
SELECT CAST(a AS INTEGER) AS accuracy,
       (SELECT COUNT(*) FROM lineitem) AS n,
       (SELECT {sql_floor_scaled("quantile_cont(l_extendedprice, 0.5)")}
        FROM lineitem) AS p50_exact,
       (SELECT {sql_floor_scaled("quantile_cont(l_extendedprice, 0.95)")}
        FROM lineitem) AS p95_exact,
       TRUE AS p50_ok,
       TRUE AS p95_ok
FROM (SELECT unnest([{", ".join(str(a) for a in X15_ACCS)}]) AS a)
"""


QUERIES["x15_quantile_accuracy_sweep"] = x15_quantile_accuracy_sweep
ORACLES["x15_quantile_accuracy_sweep"] = ORACLE_X15


# ---------------------------------------------------------------------------
# x16 — KMV set algebra (the x13 sketch doing what it was chosen for):
# union, Jaccard, and intersection estimates for two user populations
# (first vs second half of the month) from their k-minimum-values
# sketches ALONE — the audience-overlap question x10 answers with HLL,
# answered here with the mergeable-by-hash-concat sketch family
# (Beyer et al. 2007). Union sketch = k smallest of the two sketches'
# hash union; Jaccard ≈ (shared hashes among those k) / k;
# intersection ≈ Jaccard × union.
#
# Scale: each side reduces to k 8-byte hashes via TakeOrderedAndProject
# (map-side partial k-min, one tiny shuffle); the set algebra runs on
# ≤ 2k rows. Exact counts appear only as verdict columns.
# ---------------------------------------------------------------------------
X16_SPLIT = "2024-01-15"


def x16_kmv_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("ts", "user_id")
    h = _kmv_hash(F.col("user_id"))

    def kmin(side_filter):
        return (
            ev.filter(side_filter)
            .select(h.alias("h"))
            .distinct()
            .orderBy(F.col("h").asc())
            .limit(X13_K)
        )
    split = F.lit(X16_SPLIT).cast("timestamp")
    ka = kmin(F.col("ts") < split).withColumn("in_a", F.lit(1))
    kb = kmin(F.col("ts") >= split).withColumn("in_b", F.lit(1))
    merged = (
        ka.select("h", "in_a")
        .unionByName(kb.select("h", F.col("in_b").alias("in_a")), allowMissingColumns=False)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("sides"))
        .orderBy(F.col("h").asc())
        .limit(X13_K)
    )
    sk = merged.agg(
        F.count(F.lit(1)).alias("k_kept"),
        F.max("h").alias("kth"),
        F.sum((F.col("sides") == 2).cast("long")).alias("shared"),
    )
    # round-10 conversion: union estimate in the x13/x25b e4-units form,
    # jaccard as truncating-DIV micros, intersection as the exact integer
    # product of the two (decimal-widened) published at 2 decimals — the
    # old ROUND-of-float chain was t09-class.
    union_e4 = F.when(F.col("k_kept") < X13_K, F.col("k_kept") * 10000).otherwise(
        F.expr(f"(k_kept - 1) * {_X13_P} * 10000 div kth")
    )
    exact = ev.agg(
        F.count_distinct(F.when(F.col("ts") < split, F.col("user_id"))).alias(
            "exact_a"
        ),
        F.count_distinct(F.when(F.col("ts") >= split, F.col("user_id"))).alias(
            "exact_b"
        ),
        F.count_distinct("user_id").alias("exact_union"),
    )
    return (
        sk.crossJoin(F.broadcast(exact))
        .withColumn("union_e4", union_e4)
        .withColumn("jacc_micro", F.expr("shared * 1000000 DIV k_kept"))
        .select(
            F.col("k_kept").cast("long").alias("k_kept"),
            F.col("shared").cast("long").alias("shared_hashes"),
            (F.col("union_e4") / 10_000.0).alias("est_union"),
            (F.col("jacc_micro") / 1_000_000.0).alias("est_jaccard"),
            (
                F.expr("CAST(jacc_micro AS DECIMAL(38,0)) * union_e4 DIV 100000000")
                / 100.0
            ).alias("est_intersection"),
            F.col("exact_a").cast("long").alias("exact_a"),
            F.col("exact_b").cast("long").alias("exact_b"),
            F.col("exact_union").cast("long").alias("exact_union"),
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_union"))
            .cast("long")
            .alias("exact_intersection"),
        )
    )


ORACLE_X16 = f"""
WITH ka AS (
  SELECT DISTINCT {_SQL_KMV_HASH} AS h
  FROM events WHERE ts < TIMESTAMP '{X16_SPLIT}'
  ORDER BY h ASC LIMIT {X13_K}
),
kb AS (
  SELECT DISTINCT {_SQL_KMV_HASH} AS h
  FROM events WHERE ts >= TIMESTAMP '{X16_SPLIT}'
  ORDER BY h ASC LIMIT {X13_K}
),
merged AS (
  SELECT h, COUNT(*) AS sides FROM (
    SELECT h FROM ka UNION ALL SELECT h FROM kb
  ) GROUP BY h ORDER BY h ASC LIMIT {X13_K}
),
sk AS (
  SELECT COUNT(*) AS k_kept, MAX(h) AS kth,
         SUM(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS shared
  FROM merged
),
exact AS (
  SELECT COUNT(DISTINCT CASE WHEN ts < TIMESTAMP '{X16_SPLIT}'
                             THEN user_id END) AS exact_a,
         COUNT(DISTINCT CASE WHEN ts >= TIMESTAMP '{X16_SPLIT}'
                             THEN user_id END) AS exact_b,
         COUNT(DISTINCT user_id) AS exact_union
  FROM events
),
u AS (
  SELECT *,
         CASE WHEN k_kept < {X13_K} THEN k_kept * 10000
              ELSE (k_kept - 1) * {_X13_P} * 10000 // kth END AS union_e4,
         shared * 1000000 // k_kept AS jacc_micro
  FROM sk CROSS JOIN exact
)
SELECT CAST(k_kept AS BIGINT) AS k_kept,
       CAST(shared AS BIGINT) AS shared_hashes,
       union_e4 / 10000.0 AS est_union,
       jacc_micro / 1000000.0 AS est_jaccard,
       (CAST(jacc_micro AS HUGEINT) * union_e4 // 100000000) / 100.0
         AS est_intersection,
       CAST(exact_a AS BIGINT) AS exact_a,
       CAST(exact_b AS BIGINT) AS exact_b,
       CAST(exact_union AS BIGINT) AS exact_union,
       CAST(exact_a + exact_b - exact_union AS BIGINT) AS exact_intersection
FROM u
"""


QUERIES["x16_kmv_set_algebra"] = x16_kmv_set_algebra
ORACLES["x16_kmv_set_algebra"] = ORACLE_X16


# ---------------------------------------------------------------------------
# x17 — sliding-window distinct users from MERGED DAILY SKETCHES: 7-day
# rolling unique users per day, built by unioning the per-day HLL
# sketches instead of rescanning a week of raw events per window — the
# pre-aggregation pattern that makes rolling distinct counts affordable
# at 100 TB (a day's sketch is ~4 KB; seven sketch merges replace a
# 7-day shuffle of raw user_ids).
#
# Scale: one pass builds |days| sketches; each contributes to its 7
# window days via an in-row explode (the e12 window-explode trick — an
# equi-groupBy, never a range join); the merge aggregate handles ≤ 7
# sketch rows per window. The EXACT rolling distinct exists only as the
# verdict column and uses the same explode shape. Sketch binaries are
# engine-specific (the x01/x05 recipe), so the hashed columns are the
# exact counts + tolerance verdicts.
# ---------------------------------------------------------------------------
X17_WINDOW_DAYS = 7


def x17_sliding_hll_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    days = ev.select("day").distinct()
    span = F.explode(F.sequence(F.lit(0), F.lit(X17_WINDOW_DAYS - 1))).alias("i")
    daily = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id", F.lit(HLL_LG_K)).alias("sk")
    )
    approx = (
        daily.select("day", "sk", span)
        .select(F.date_add("day", F.col("i")).alias("wday"), "sk")
        .join(days.withColumnRenamed("day", "wday"), "wday", "left_semi")
        .groupBy("wday")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
            F.count(F.lit(1)).alias("n_days_merged"),
        )
    )
    exact = (
        ev.select("day", "user_id", span)
        .select(F.date_add("day", F.col("i")).alias("wday"), "user_id")
        .join(days.withColumnRenamed("day", "wday"), "wday", "left_semi")
        .groupBy("wday")
        .agg(F.countDistinct("user_id").alias("exact_users_7d"))
    )
    return (
        approx.join(exact, "wday")
        .select(
            F.date_format("wday", "yyyy-MM-dd").alias("window_end_day"),
            F.col("n_days_merged").cast("long").alias("n_days_merged"),
            F.col("exact_users_7d").cast("long").alias("exact_users_7d"),
            (
                F.abs(F.col("approx_users") - F.col("exact_users_7d"))
                / F.col("exact_users_7d")
                <= F.lit(3 * 0.016)  # 3σ of lgK=12's ~1.6% RSE
            ).alias("within_tol"),
        )
    )


ORACLE_X17 = f"""
WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM ev),
contrib AS (
  SELECT ev.day + CAST(t.i AS INTEGER) AS wday, ev.user_id
  FROM ev, unnest(generate_series(0, {X17_WINDOW_DAYS - 1})) AS t(i)
),
filtered AS (
  SELECT c.wday, c.user_id FROM contrib c JOIN days d ON c.wday = d.day
),
daycount AS (
  SELECT d.day + CAST(t.i AS INTEGER) AS wday, COUNT(*) AS n_days_merged
  FROM days d, unnest(generate_series(0, {X17_WINDOW_DAYS - 1})) AS t(i)
  WHERE d.day + CAST(t.i AS INTEGER) IN (SELECT day FROM days)
  GROUP BY 1
)
SELECT strftime(f.wday, '%Y-%m-%d') AS window_end_day,
       CAST(dc.n_days_merged AS BIGINT) AS n_days_merged,
       COUNT(DISTINCT f.user_id) AS exact_users_7d,
       TRUE AS within_tol
FROM filtered f JOIN daycount dc ON f.wday = dc.wday
GROUP BY f.wday, dc.n_days_merged
"""


QUERIES["x17_sliding_hll_window"] = x17_sliding_hll_window
ORACLES["x17_sliding_hll_window"] = ORACLE_X17


# ---------------------------------------------------------------------------
# x19 — stratified deterministic downsampling: keep exactly K events per
# event_type (stratum), chosen by a keyed hash order — the
# balance-the-sources sampling step every training-data pipeline runs
# before mixing. Hash-ordered selection makes the sample REPRODUCIBLE
# (same corpus -> same sample, no RNG state) and uniform-in-expectation
# (the overflow-safe x13 hash family); per-stratum summary stats verify
# the sample against the stratum it came from.
#
# Scale: ONE window over (event_type) — a fixed-enum partition key, no
# global sort; per-stratum top-K by hash is a bounded heap per
# partition. The summary aggregate rides the same partitioning. Compare
# x13 (global bottom-k for distinct ESTIMATION); this is per-stratum
# bottom-k for row SELECTION.
# ---------------------------------------------------------------------------
X19_K = 200


def x19_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    hashed = ev.withColumn("h", _kmv_hash(F.col("event_id")))
    w = Window.partitionBy("event_type").orderBy(
        F.col("h").asc(), F.col("event_id").asc()
    )
    ranked = hashed.withColumn("rn", F.row_number().over(w))
    sampled = ranked.filter(F.col("rn") <= X19_K)
    totals = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.round(F.sum(F.col("value").cast("decimal(18,10)")).cast("double"), 4).alias(
            "sum_total"
        ),
    )
    per_stratum = sampled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.max("h").alias("h_boundary"),
        F.round(F.sum(F.col("value").cast("decimal(18,10)")).cast("double"), 4).alias(
            "sum_sampled"
        ),
    )
    return totals.join(per_stratum, "event_type").select(
        "event_type",
        F.col("n_total").cast("long").alias("n_total"),
        F.col("n_sampled").cast("long").alias("n_sampled"),
        F.col("h_boundary").cast("long").alias("h_boundary"),
        "sum_total",
        "sum_sampled",
    )


_SQL_X19_HASH = f"((event_id % {_X13_P}) * {X13_A_MOD} + {X13_B}) % {_X13_P}"

ORACLE_X19 = f"""
WITH hashed AS (
  SELECT event_id, event_type, value, {_SQL_X19_HASH} AS h FROM events
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY h ASC, event_id ASC) AS rn
  FROM hashed
),
sampled AS (SELECT * FROM ranked WHERE rn <= {X19_K}),
totals AS (
  SELECT event_type, COUNT(*) AS n_total,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,10))) AS DOUBLE), 4)
           AS sum_total
  FROM events GROUP BY event_type
),
per_stratum AS (
  SELECT event_type, COUNT(*) AS n_sampled, MAX(h) AS h_boundary,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,10))) AS DOUBLE), 4)
           AS sum_sampled
  FROM sampled GROUP BY event_type
)
SELECT t.event_type,
       CAST(n_total AS BIGINT) AS n_total,
       CAST(n_sampled AS BIGINT) AS n_sampled,
       CAST(h_boundary AS BIGINT) AS h_boundary,
       sum_total, sum_sampled
FROM totals t JOIN per_stratum p ON t.event_type = p.event_type
"""


QUERIES["x19_stratified_sample"] = x19_stratified_sample
ORACLES["x19_stratified_sample"] = ORACLE_X19


# ---------------------------------------------------------------------------
# x22 — priority sampling (Duffield–Lund–Thorup, JACM '07): a fixed-K
# weighted sample per event_type whose subset-sum estimator
# sum(max(w_i, tau)) over the K kept rows — tau = the (K+1)-th priority —
# is UNBIASED for the stratum's total, the size-bounded alternative to
# threshold/PPS sampling every 100-TB aggregation pipeline wants.
# Priorities are q_i = w_i / u_i with u_i = (h_i + 1)/P derived from the
# repo's overflow-safe KMV hash — deterministic, so both engines draw the
# SAME sample and the estimate itself is hash-comparable (double ops are
# IEEE-exact; the estimator sum accumulates in DECIMAL).
#
# Scale: per-stratum top-(K+1) by priority is a partitioned window over
# fixed-domain event_type keys; one corpus scan, one (event_type)
# exchange shared by the window and both aggregates.  The kept set is
# K+1 rows per stratum regardless of SF.
# ---------------------------------------------------------------------------
X22_K = 64


def x22_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    # u = (h+1)/P in (0,1]; priority = w/u = (w*P)/(h+1), parenthesized
    # identically in the oracle (IEEE double ops are order-sensitive).
    pri = (F.col("value") * F.lit(float(_X13_P))) / (
        (_kmv_hash(F.col("event_id")) + F.lit(1)).cast("double")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("priority").desc(), F.col("event_id").asc()
    )
    ranked = ev.withColumn("priority", pri).withColumn(
        "rn", F.row_number().over(w)
    )
    kept = ranked.filter(F.col("rn") <= X22_K + 1)
    est = kept.groupBy("event_type").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == X22_K + 1, F.col("priority"))),
            F.lit(0.0),
        ).alias("tau"),
    )
    sample_est = (
        kept.join(F.broadcast(est), "event_type")
        .filter(F.col("rn") <= X22_K)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            F.sum(
                F.greatest(F.col("value"), F.col("tau")).cast("decimal(18,6)")
            ).alias("est_d"),
        )
    )
    totals = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("exact_d"),
    )
    # round-10 conversion: the decimal sums publish as exact integer
    # micros / 1e6 and rel_err as a truncating decimal-DIV micro ratio —
    # the old ROUND(decimal→double, k) rode DuckDB's 1-ulp cast AND the
    # t09 ROUND procedure asymmetry.
    return (
        totals.join(sample_est, "event_type")
        .withColumn("xm", F.expr("CAST(exact_d * 1000000 AS DECIMAL(38,0))"))
        .withColumn("em", F.expr("CAST(est_d * 1000000 AS DECIMAL(38,0))"))
        .select(
            "event_type",
            "n_total",
            "n_sampled",
            (F.expr("CAST(xm AS BIGINT)") / 1_000_000.0).alias("sum_exact"),
            (F.expr("CAST(em AS BIGINT)") / 1_000_000.0).alias("sum_est"),
            (F.expr("abs(em - xm) * 1000000 DIV xm") / 1_000_000.0).alias("rel_err"),
        )
    )


_SQL_X22_HASH = f"((event_id % {_X13_P}) * {X13_A_MOD} + {X13_B}) % {_X13_P}"

ORACLE_X22 = f"""
WITH ranked AS (
  SELECT event_id, event_type, value,
         (value * CAST({_X13_P} AS DOUBLE))
           / CAST(({_SQL_X22_HASH}) + 1 AS DOUBLE) AS priority
  FROM events
),
rn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY priority DESC, event_id ASC) AS rn
  FROM ranked
),
kept AS (SELECT * FROM rn WHERE rn <= {X22_K} + 1),
tau AS (
  SELECT event_type,
         COALESCE(MAX(CASE WHEN rn = {X22_K} + 1 THEN priority END), 0.0) AS tau
  FROM kept GROUP BY event_type
),
est AS (
  SELECT k.event_type,
         COUNT(*) AS n_sampled,
         SUM(CAST(GREATEST(k.value, t.tau) AS DECIMAL(18,6))) AS est_d
  FROM kept k JOIN tau t ON k.event_type = t.event_type
  WHERE k.rn <= {X22_K}
  GROUP BY k.event_type
),
totals AS (
  SELECT event_type, COUNT(*) AS n_total,
         SUM(CAST(value AS DECIMAL(18,6))) AS exact_d
  FROM events GROUP BY event_type
),
m AS (
  SELECT t.event_type, t.n_total, e.n_sampled,
         CAST(t.exact_d * 1000000 AS HUGEINT) AS xm,
         CAST(e.est_d * 1000000 AS HUGEINT) AS em
  FROM totals t JOIN est e ON t.event_type = e.event_type
)
SELECT event_type,
       CAST(n_total AS BIGINT) AS n_total,
       CAST(n_sampled AS BIGINT) AS n_sampled,
       CAST(xm AS BIGINT) / 1000000.0 AS sum_exact,
       CAST(em AS BIGINT) / 1000000.0 AS sum_est,
       (ABS(em - xm) * 1000000 // xm) / 1000000.0 AS rel_err
FROM m
"""


QUERIES["x22_priority_sample"] = x22_priority_sample
ORACLES["x22_priority_sample"] = ORACLE_X22


# ---------------------------------------------------------------------------
# x23 — sample-size planner: the design-of-experiments step BEFORE x03/
# x11/x19/x22 draw anything — from each stratum's exact pilot moments,
# the minimum sample size n_req = (Z/e)² · var/mean² (Z=2, e=1% relative
# error on the mean) that certifies a future sample.  x11 audits a
# sample after the fact; x23 prices it in advance.
#
# Integer-exact until the last step: values become CENTS (exact — the
# generator emits 2-decimal values), sums and sums-of-squares accumulate
# in DECIMAL(38,0) (cents² × rows brushes int64 at 100 TB), and the
# variance is the exact rational (n·s2 − s²)/(n·(n−1)) cast to double
# once.  sqrt is correctly-rounded IEEE, division exact — both engines
# produce bit-identical doubles, so even ceil(n_req) agrees.
#
# Scale: one (event_type) aggregate with map-side combine; nothing else.
# ---------------------------------------------------------------------------
X23_Z, X23_RELERR_INV = 2, 100  # Z=2 (~95%), e = 1/100 relative error


def x23_sample_size_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
        F.sum(
            (F.col("cents") * F.col("cents")).cast("decimal(38,0)")
        ).alias("s2"),
    )
    var_c = (
        (F.col("n").cast("decimal(38,0)") * F.col("s2") - F.col("s") * F.col("s"))
        .cast("double")
        / (F.col("n").cast("double") * (F.col("n").cast("double") - 1))
    )
    mean_c = F.col("s").cast("double") / F.col("n").cast("double")
    k = float(X23_Z * X23_RELERR_INV)
    n_req = F.ceil(F.lit(k * k) * var_c / (mean_c * mean_c))
    # round-10 conversion: mean and required_fraction as truncating-DIV
    # micros; the sqrt-bearing sd/cv via floor_scaled (no integer form).
    return (
        agg.select(
            "event_type",
            F.col("n").cast("long").alias("n_pilot"),
            F.expr("s * 10000 DIV n").alias("mean_micro"),
            floor_scaled(F.sqrt(var_c) / 100.0, 6).alias("sd_value"),
            floor_scaled(F.sqrt(var_c) / mean_c, 6).alias("cv"),
            n_req.cast("long").alias("n_required"),
        )
        .select(
            "event_type",
            "n_pilot",
            (F.col("mean_micro") / 1_000_000.0).alias("mean_value"),
            "sd_value",
            "cv",
            "n_required",
            (F.expr("n_required * 1000000 DIV n_pilot") / 1_000_000.0).alias(
                "required_fraction"
            ),
        )
    )


ORACLE_X23 = f"""
WITH agg AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(CAST(ROUND(value * 100, 0) AS BIGINT) AS DECIMAL(38,0))) AS s,
         SUM(CAST(CAST(ROUND(value * 100, 0) AS BIGINT)
                  * CAST(ROUND(value * 100, 0) AS BIGINT) AS DECIMAL(38,0))) AS s2
  FROM events GROUP BY event_type
),
m AS (
  SELECT event_type, n, s, s2,
         CAST(CAST(n AS DECIMAL(38,0)) * s2 - s * s AS DOUBLE)
           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) AS var_c,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c
  FROM agg
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_pilot,
       (CAST(s AS HUGEINT) * 10000 // n) / 1000000.0 AS mean_value,
       {sql_floor_scaled("SQRT(var_c) / 100.0")} AS sd_value,
       {sql_floor_scaled("SQRT(var_c) / mean_c")} AS cv,
       CAST(CEIL({float(X23_Z * X23_RELERR_INV)}
                 * {float(X23_Z * X23_RELERR_INV)} * var_c
                 / (mean_c * mean_c)) AS BIGINT) AS n_required,
       (CAST(CEIL({float(X23_Z * X23_RELERR_INV)}
                 * {float(X23_Z * X23_RELERR_INV)} * var_c
                 / (mean_c * mean_c)) AS BIGINT) * 1000000 // n) / 1000000.0
         AS required_fraction
FROM m
"""


QUERIES["x23_sample_size_planner"] = x23_sample_size_planner
ORACLES["x23_sample_size_planner"] = ORACLE_X23


# ---------------------------------------------------------------------------
# x27 — AMS F2 sketch (Alon–Matias–Szegedy '96): the second frequency
# moment Σ c_k² of l_orderkey — the SELF-join size, the skew indicator a
# cost-based planner reads next to x09's cross-join estimate (uniform
# keys → F2 ≈ n²/NDV; a hot key inflates F2 quadratically). Each sketch
# row i keeps ONE counter Z_i = Σ_rows s_i(key) with s_i(key) = ±1 from
# the deterministic affine-parity hash family (x06/x09's constants);
# E[Z_i²] = F2 exactly. The estimate is the median of AMS_D=8 squared
# counters (closed form on the sorted 8-array: mean of the two middle
# order statistics).
#
# Determinism: signs, sums, and squares are integers; Z² products ride
# DECIMAL(38,0) (Z is bounded by n — 6e11 rows at 100 TB squares past
# int64); the exact-F2 verdict uses the same decimal discipline.
#
# Scale: the sketch pass is ONE scan folding to 8 integers (map-side
# combinable — this is the extreme of "shuffle counters, never values");
# the exact arm's per-key count aggregate (NDV-bounded shuffle) exists
# only as the oracle-checkable verdict, like x20's exact percentiles.
# ---------------------------------------------------------------------------
# Sign-hash family hoisted to functions/hashing.py (one source, the KMV
# discipline).
from ..functions.hashing import AMS_A, AMS_B, AMS_D, AMS_P  # noqa: E402


def x27_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    sign = lambda i: (
        F.lit(1) - F.lit(2) * ((F.col("l_orderkey") * AMS_A[i] + AMS_B[i]) % AMS_P % 2)
    )
    sums = li.agg(
        *[F.sum(sign(i)).cast("decimal(38,0)").alias(f"z{i}") for i in range(AMS_D)]
    )
    ests = F.array_sort(
        F.array(*[(F.col(f"z{i}") * F.col(f"z{i}")).cast("decimal(38,0)")
                  for i in range(AMS_D)])
    )
    sketch = sums.select(
        ests[0].cast("double").alias("est_min"),
        ests[AMS_D - 1].cast("double").alias("est_max"),
        ((ests[AMS_D // 2 - 1] + ests[AMS_D // 2]).cast("double") / 2).alias(
            "est_median"
        ),
        # exact integer 2×median, kept for the micro-ratio publish
        (ests[AMS_D // 2 - 1] + ests[AMS_D // 2]).alias("med2"),
    )
    exact = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("exact_f2"))
    )
    # round-10 conversion: median_ratio as exact integer micros —
    # 2×median is an exact integer, so the ratio is (med2 × 1e6) DIV
    # (2 × exact_f2) with truncating decimal DIV.
    return sketch.crossJoin(F.broadcast(exact)).select(
        "exact_f2",
        "est_min",
        "est_median",
        "est_max",
        (F.expr("med2 * 1000000 DIV (2 * exact_f2)") / 1_000_000.0).alias(
            "median_ratio"
        ),
    )


def _oracle_x27() -> str:
    zs = ",\n         ".join(
        f"CAST(SUM(1 - 2 * ((l_orderkey * {AMS_A[i]} + {AMS_B[i]})"
        f" % {AMS_P} % 2)) AS DECIMAL(38,0)) AS z{i}"
        for i in range(AMS_D)
    )
    arr = ", ".join(f"z{i} * z{i}" for i in range(AMS_D))
    return f"""
WITH sums AS (
  SELECT {zs}
  FROM lineitem
),
sorted AS (
  SELECT list_sort([{arr}]) AS e FROM sums
),
sketch AS (
  SELECT CAST(e[1] AS DOUBLE) AS est_min,
         CAST(e[{AMS_D}] AS DOUBLE) AS est_max,
         CAST(e[{AMS_D // 2}] + e[{AMS_D // 2 + 1}] AS DOUBLE) / 2 AS est_median,
         CAST(e[{AMS_D // 2}] + e[{AMS_D // 2 + 1}] AS HUGEINT) AS med2
  FROM sorted
),
exact AS (
  SELECT CAST(SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS BIGINT)
           AS exact_f2
  FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey)
)
SELECT exact_f2, est_min, est_median, est_max,
       (med2 * 1000000 // (2 * CAST(exact_f2 AS HUGEINT))) / 1000000.0
         AS median_ratio
FROM sketch CROSS JOIN exact
"""


QUERIES["x27_ams_f2"] = x27_ams_f2
ORACLES["x27_ams_f2"] = _oracle_x27()


# ---------------------------------------------------------------------------
# x28 — Count-Sketch (Charikar–Chen–Farach-Colton '02): x06's CMS
# always OVER-estimates (collisions only add); Count-Sketch pairs each
# bucket hash with an independent ±1 sign hash so collisions cancel in
# expectation — the estimate (median over rows of sign·counter) is
# UNBIASED, the property x06's probes can't have. Both sketches on the
# same stream, probed at the same true top-10, lets a planner read the
# bias/variance trade directly: CMS for guaranteed-upper-bound
# pruning, Count-Sketch for unbiased frequency estimates.
#
# Determinism: signs/buckets are the closed-form affine family
# (x06/x27's constants); the median of CS_D=5 signed estimates is the
# 3rd order statistic of a sorted 5-array — exact in both engines.
#
# Scale: identical to x06 — counters fold map-side to d×w rows
# regardless of stream size; probes join d broadcast counter rows.
# ---------------------------------------------------------------------------
CS_D = 5
CS_W = 1024
CS_A = [4973, 6203, 7369, 8539, 9679]
CS_B = [911, 1723, 2617, 3469, 4397]
CS_SA = [10837, 11953, 13147, 14389, 15643]
CS_SB = [5281, 6133, 7027, 7919, 8837]


def x28_count_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id")

    def bucket(i):
        return (F.col("user_id") * CS_A[i] + CS_B[i]) % CMS_P % CS_W

    def sign(i):
        return F.lit(1) - F.lit(2) * (
            (F.col("user_id") * CS_SA[i] + CS_SB[i]) % CMS_P % 2
        )

    rows = [
        ev.select(
            F.lit(i).alias("row_i"), bucket(i).alias("bucket"), sign(i).alias("s")
        )
        for i in range(CS_D)
    ]
    hashed = rows[0]
    for r in rows[1:]:
        hashed = hashed.unionByName(r)
    counters = hashed.groupBy("row_i", "bucket").agg(F.sum("s").alias("c"))

    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    top = truth.orderBy(F.col("true_n").desc(), F.col("user_id").asc()).limit(
        CMS_TOPN
    )
    probes = top.select(
        "user_id",
        "true_n",
        *[bucket(i).alias(f"b{i}") for i in range(CS_D)],
        *[sign(i).alias(f"s{i}") for i in range(CS_D)],
    )
    est = probes
    for i in range(CS_D):
        ci = counters.filter(F.col("row_i") == i).select(
            F.col("bucket").alias(f"b{i}"), F.col("c").alias(f"c{i}")
        )
        est = est.join(F.broadcast(ci), f"b{i}")
    signed = F.array_sort(
        F.array(*[(F.col(f"s{i}") * F.col(f"c{i}")).cast("long") for i in range(CS_D)])
    )
    median = signed[CS_D // 2]
    return est.select(
        "user_id",
        "true_n",
        median.alias("cs_estimate"),
        (median - F.col("true_n")).cast("long").alias("signed_error"),
    )


def _oracle_x28() -> str:
    bucket = lambda i, k: f"({k} * {CS_A[i]} + {CS_B[i]}) % {CMS_P} % {CS_W}"
    sign = lambda i, k: f"(1 - 2 * (({k} * {CS_SA[i]} + {CS_SB[i]}) % {CMS_P} % 2))"
    counter_ctes = ",\n".join(
        f"""cnt{i} AS (
  SELECT {bucket(i, 'user_id')} AS b{i}, SUM({sign(i, 'user_id')}) AS c{i}
  FROM events GROUP BY 1
)"""
        for i in range(CS_D)
    )
    probe_cols = ", ".join(
        [f"{bucket(i, 'user_id')} AS b{i}" for i in range(CS_D)]
        + [f"{sign(i, 'user_id')} AS s{i}" for i in range(CS_D)]
    )
    joins = "\n".join(f"JOIN cnt{i} USING (b{i})" for i in range(CS_D))
    arr = ", ".join(f"s{i} * c{i}" for i in range(CS_D))
    return f"""
WITH truth AS (
  SELECT user_id, COUNT(*) AS true_n FROM events GROUP BY user_id
),
top AS (
  SELECT user_id, true_n FROM truth
  ORDER BY true_n DESC, user_id ASC LIMIT {CMS_TOPN}
),
probes AS (SELECT user_id, true_n, {probe_cols} FROM top),
{counter_ctes},
est AS (
  SELECT user_id, true_n, list_sort([{arr}]) AS e
  FROM probes
  {joins}
)
SELECT user_id, true_n,
       CAST(e[{CS_D // 2 + 1}] AS BIGINT) AS cs_estimate,
       CAST(e[{CS_D // 2 + 1}] - true_n AS BIGINT) AS signed_error
FROM est
"""


QUERIES["x28_count_sketch"] = x28_count_sketch
ORACLES["x28_count_sketch"] = _oracle_x28()


# ---------------------------------------------------------------------------
# x29 — Fagin's Threshold Algorithm (TA), the certified-early-stop
# distributed top-k: rank customers by a combined score over two
# attribute lists (lifetime dollars + scaled order count) WITHOUT
# scoring the full corpus under a global sort.  The search-engine
# primitive (Fagin/Lotem/Naor 2001): read a bounded prefix of each
# per-attribute ranking, score only the union of those prefixes, and
# CERTIFY the answer against the threshold tau = sum of the last-seen
# attribute scores — if the k-th candidate's combined score >= tau, no
# unseen row can beat it and the bounded prefixes provably contain the
# true global top-k.
#
# Plan shape:
#   1. one per-customer aggregate (map-side combinable),
#   2. two TakeOrdered prefixes of depth M (bounded, never a global
#      sort), their last-seen scores fold to 1-row frames,
#   3. candidates = union of the two prefix key sets (<= 2M rows,
#      bounded by construction) -> broadcast-joined back against the
#      aggregate to fetch both attributes (probe side streams),
#   4. top-k of the <= 2M scored candidates + the certification bit.
#
# All scores are exact integers (cents//100 dollars, count*1000);
# ties break by custkey everywhere, so the result is total-ordered and
# bit-deterministic in both engines.
#
# Scale: the corpus is aggregated once and probed once; everything
# downstream of the TakeOrdereds is O(M).  The certification verdict is
# the point: at 100 TB it tells the caller whether depth M sufficed or
# the prefixes must deepen — without ever running the global sort.
# ---------------------------------------------------------------------------
X29_M = 100  # per-list prefix depth
X29_K = 10  # certified result size


def x29_fagin_ta_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").cast("decimal(18,2)").alias("price")
    )
    feat = (
        orders.groupBy("o_custkey")
        .agg(
            (F.sum("price") * 100).cast("long").alias("cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
        .select(
            "o_custkey",
            F.expr("cents div 100").alias("a"),
            (F.col("n_orders") * 1000).alias("b"),
        )
    )
    top_a = feat.orderBy(F.desc("a"), F.asc("o_custkey")).limit(X29_M)
    top_b = feat.orderBy(F.desc("b"), F.asc("o_custkey")).limit(X29_M)
    a_last = top_a.agg(F.min("a").alias("a_m"))
    b_last = top_b.agg(F.min("b").alias("b_m"))
    cands = (
        top_a.select("o_custkey").union(top_b.select("o_custkey")).distinct()
    )
    scored = feat.join(F.broadcast(cands), "o_custkey").select(
        "o_custkey", "a", "b", (F.col("a") + F.col("b")).alias("score")
    )
    topk = scored.orderBy(F.desc("score"), F.asc("o_custkey")).limit(X29_K)
    kth = topk.agg(F.min("score").alias("kth"))
    w = Window.orderBy(F.desc("score"), F.asc("o_custkey"))
    return (
        topk.crossJoin(F.broadcast(a_last))
        .crossJoin(F.broadcast(b_last))
        .crossJoin(F.broadcast(kth))
        .select(
            F.row_number().over(w).cast("int").alias("rnk"),
            "o_custkey",
            F.col("a").alias("dollars"),
            F.col("b").alias("freq_scaled"),
            "score",
            (F.col("a_m") + F.col("b_m")).alias("tau"),
            (F.col("kth") >= F.col("a_m") + F.col("b_m")).alias("certified"),
        )
    )


ORACLE_X29 = f"""
WITH cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
),
feat AS (
  SELECT o_custkey, cents // 100 AS a, n_orders * 1000 AS b FROM cust
),
ta AS (SELECT * FROM feat ORDER BY a DESC, o_custkey LIMIT {X29_M}),
tb AS (SELECT * FROM feat ORDER BY b DESC, o_custkey LIMIT {X29_M}),
am AS (SELECT MIN(a) AS a_m FROM ta),
bm AS (SELECT MIN(b) AS b_m FROM tb),
cands AS (
  SELECT DISTINCT o_custkey FROM (
    SELECT o_custkey FROM ta UNION ALL SELECT o_custkey FROM tb)
),
scored AS (
  SELECT f.o_custkey, f.a, f.b, f.a + f.b AS score
  FROM feat f JOIN cands c ON f.o_custkey = c.o_custkey
),
topk AS (SELECT * FROM scored ORDER BY score DESC, o_custkey LIMIT {X29_K}),
kth AS (SELECT MIN(score) AS kth FROM topk)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, o_custkey) AS INTEGER)
         AS rnk,
       o_custkey, a AS dollars, b AS freq_scaled, score,
       a_m + b_m AS tau,
       kth >= a_m + b_m AS certified
FROM topk CROSS JOIN am CROSS JOIN bm CROSS JOIN kth
"""

QUERIES["x29_fagin_ta_topk"] = x29_fagin_ta_topk
ORACLES["x29_fagin_ta_topk"] = ORACLE_X29


# ---------------------------------------------------------------------------
# x30 — Misra–Gries mergeable heavy-hitter summaries: the deterministic
# counter-based sketch next to the hash-based x06 CMS (always-over) and
# x28 Count-Sketch (unbiased): MG NEVER overestimates and carries the
# classic deterministic guarantee  exact − n/(k+1) ≤ est ≤ exact.  This
# is the BATCH mergeable form (Agarwal et al., "Mergeable Summaries",
# PODS'12).
#
# Distributed shape: each Arrow batch folds to an MG(k) summary INSIDE
# mapInPandas — vectorized, not a row loop: for a batch the MG result
# equals value_counts minus the (k+1)-th largest count d, keeping
# positives (at least k+1 keys have count ≥ d, so (k+1)·d ≤ n_batch and
# the per-batch decrement is ≤ n_batch/(k+1)).  Summaries then merge by
# a plain per-key SUM — decrements add across batches to ≤ n/(k+1)
# total, so the merged sketch keeps the MG bound with NO final
# decrement needed.  The shuffle carries ≤ k rows per batch (counters,
# never the token stream).
#
# Output is deterministic under ANY partitioning (the x20 verdict-
# boolean pattern): the est value itself depends on batch boundaries,
# so the query emits the exact top-10 counts plus the three guarantees
# the sketch must satisfy — never-overestimates, within-bound, and
# guaranteed-present for keys above the error bound.  The booleans are
# invariant; the oracle asserts them TRUE against the exact counts.
#
# Scale: one corpus pass (Arrow-vectorized), counter-sized shuffle, a
# bounded top-10 TakeOrdered, a 1-row total broadcast.
#
# Reference parity: no analog in the reference relay (app/app.py); part
# of the LLM-pipeline extension mandate (sketches family).
# ---------------------------------------------------------------------------
X30_K = 200
X30_TOP = 10


def x30_misra_gries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import fan_out

    docs = fan_out(
        table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("token")
    ).filter(F.length("token") > 0)

    def mg(batches):
        import pandas as pd

        for pdf in batches:
            vc = pdf["token"].value_counts()
            if len(vc) > X30_K:
                d = int(vc.iloc[X30_K])
                vc = vc[vc > d] - d
            yield pd.DataFrame(
                {"token": vc.index, "est": vc.values.astype("int64")}
            )

    summaries = toks.mapInPandas(mg, schema="token string, est long")
    est = summaries.groupBy("token").agg(F.sum("est").alias("est_n"))
    n_row = toks.agg(F.count(F.lit(1)).alias("n_total"))
    exact_top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("token").asc())
        .limit(X30_TOP)
    )
    return (
        exact_top.join(est, "token", "left")
        .crossJoin(F.broadcast(n_row))
        .select(
            "token",
            F.col("exact_n").cast("long").alias("exact_n"),
            F.col("n_total").cast("long").alias("n_total"),
            F.expr(f"n_total div {X30_K + 1}").cast("long").alias("mg_bound"),
            (F.coalesce(F.col("est_n"), F.lit(0)) <= F.col("exact_n")).alias(
                "never_overestimates"
            ),
            (
                F.coalesce(F.col("est_n"), F.lit(0))
                >= F.col("exact_n") - F.expr(f"n_total div {X30_K + 1}")
            ).alias("within_mg_bound"),
            (
                (F.col("exact_n") <= F.expr(f"n_total div {X30_K + 1}"))
                | F.col("est_n").isNotNull()
            ).alias("guaranteed_present_ok"),
        )
        .orderBy(F.col("exact_n").desc(), F.col("token").asc())
    )


ORACLE_X30 = f"""
WITH toks AS (
  SELECT token
  FROM documents, unnest(string_split(text, ' ')) AS u(token)
  WHERE length(token) > 0
),
tot AS (SELECT COUNT(*) AS n_total FROM toks),
top AS (
  SELECT token, COUNT(*) AS exact_n FROM toks GROUP BY token
  ORDER BY exact_n DESC, token ASC LIMIT {X30_TOP}
)
SELECT t.token,
       CAST(t.exact_n AS BIGINT) AS exact_n,
       CAST(o.n_total AS BIGINT) AS n_total,
       CAST(o.n_total // {X30_K + 1} AS BIGINT) AS mg_bound,
       TRUE AS never_overestimates,
       TRUE AS within_mg_bound,
       TRUE AS guaranteed_present_ok
FROM top t CROSS JOIN tot o
ORDER BY exact_n DESC, token ASC
"""


QUERIES["x30_misra_gries"] = x30_misra_gries
ORACLES["x30_misra_gries"] = ORACLE_X30


# ---------------------------------------------------------------------------
# x31 — Poisson-bootstrap confidence interval for a mean, one scan:
# error bars with NO distributional assumption and NO second pass —
# the production answer to "is this dashboard delta real?".  The
# classic resample-n-rows bootstrap cannot run distributed (sampling
# WITH replacement needs global coordination); the Poisson bootstrap
# (Chamandy et al., Google) replaces each replicate's multinomial
# weights with independent Poisson(1) weights per row — each of the
# R=100 replicate sums becomes a plain conditional aggregate, and the
# whole thing is ONE map-side-combinable pass.
#
# Cross-engine determinism (the x13 overflow lessons): the Poisson
# draw for (row, replicate) is the fixed affine hash
# u = ((key % P) · A_r + B_r) % P with per-replicate constants derived
# arithmetically (never 100 literals), mapped through the HARDCODED
# integer CDF thresholds floor(P · CDF_Poisson(1)(k)) for k ≤ 7 — no
# exp(), no rand(); every intermediate < (1e9+7)² < 2^63.  Replicate
# sums fold integer CENTS; each replicate mean is one double division
# rounded at the output boundary.
#
# Shape: explode ×100 feeds a map-side-combined 100-row aggregate (the
# shuffle carries ≤ 100 partial rows per task, never the ×100 stream);
# the CI is an exact order statistic over the fixed 100-row replicate
# table (a bounded single-partition window, the e39 discipline).
#
# Reference parity: no analog in the reference relay (app/app.py);
# part of the LLM-pipeline extension mandate (sampling/sketch family).
# ---------------------------------------------------------------------------
X31_R = 100
X31_P = 1_000_000_007
# floor(P * CDF_{Poisson(1)}(k)), k = 0..7; weight = #{t <= u} (max 8).
X31_THRESHOLDS = (
    367879443, 735758887, 919698609, 981011849,
    996340160, 999405822, 999916765, 999989757,
)


def x31_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    P = X31_P
    # Two mixing rounds, every product < (1e9+7)^2 < 2^63: round 1
    # spreads the (possibly tiny) key across [0, P) so round 2's
    # per-replicate multiplier always wraps — a single affine round
    # with a small key never wraps and degenerates to all-zero weights.
    rep = orders.select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(X31_R - 1))).alias("r"),
        (((F.col("o_orderkey") % P) * 611592793 + 37) % P).alias("v"),
    ).select(
        "r",
        "cents",
        (
            (
                F.col("v") * ((179424673 + 104729 * F.col("r")) % P)
                + F.col("r")
            )
            % P
        ).alias("u"),
    )
    w = sum(
        (F.col("u") >= F.lit(t)).cast("long") for t in X31_THRESHOLDS
    )
    reps = (
        rep.withColumn("w", w)
        .groupBy("r")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("wsum"),
            F.sum("w").alias("wn"),
        )
        .select(
            "r",
            # round-10 conversion: replicate means as exact micros
            # (truncating decimal DIV); the rank key is the micro integer
            # so ordering and publication share one exact value.
            F.expr("CAST(wsum AS DECIMAL(38,0)) * 10000 DIV wn").alias(
                "rep_mean_micro"
            ),
        )
    )
    ranked = reps.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("rep_mean_micro").asc(), F.col("r").asc())
        ),
    )
    point = orders.agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.expr("CAST(SUM(cents) AS DECIMAL(38,0)) * 10000 DIV COUNT(1)")
            / 1_000_000.0
        ).alias("mean_price"),
    )
    ci = ranked.agg(
        (
            F.max(F.when(F.col("rk") == 5, F.col("rep_mean_micro"))) / 1_000_000.0
        ).alias("boot_lo"),
        (
            F.max(F.when(F.col("rk") == 95, F.col("rep_mean_micro"))) / 1_000_000.0
        ).alias("boot_hi"),
        F.count(F.lit(1)).alias("n_replicates"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        F.col("n").cast("long").alias("n"),
        "mean_price",
        "boot_lo",
        "boot_hi",
        F.col("n_replicates").cast("long").alias("n_replicates"),
    )


ORACLE_X31 = f"""
WITH base AS (
  SELECT o_orderkey,
         CAST(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders
),
rep AS (
  SELECT r.range AS r, b.cents,
         (((b.o_orderkey % {X31_P}) * 611592793 + 37) % {X31_P}
           * ((179424673 + 104729 * r.range) % {X31_P}) + r.range)
           % {X31_P} AS u
  FROM base b CROSS JOIN range(0, {X31_R}) r
),
weighted AS (
  SELECT r, cents,
         {' + '.join(f"CASE WHEN u >= {t} THEN 1 ELSE 0 END" for t in X31_THRESHOLDS)}
           AS w
  FROM rep
),
reps AS (
  SELECT r,
         CAST(SUM(w * cents) AS HUGEINT) * 10000 // SUM(w) AS rep_mean_micro
  FROM weighted GROUP BY r
),
ranked AS (
  SELECT r, rep_mean_micro,
         ROW_NUMBER() OVER (ORDER BY rep_mean_micro ASC, r ASC) AS rk
  FROM reps
),
point AS (
  SELECT COUNT(*) AS n,
         (CAST(SUM(cents) AS HUGEINT) * 10000 // COUNT(*)) / 1000000.0
           AS mean_price
  FROM base
),
ci AS (
  SELECT MAX(CASE WHEN rk = 5 THEN rep_mean_micro END) / 1000000.0 AS boot_lo,
         MAX(CASE WHEN rk = 95 THEN rep_mean_micro END) / 1000000.0 AS boot_hi,
         COUNT(*) AS n_replicates
  FROM ranked
)
SELECT CAST(p.n AS BIGINT) AS n, p.mean_price, c.boot_lo, c.boot_hi,
       CAST(c.n_replicates AS BIGINT) AS n_replicates
FROM point p CROSS JOIN ci c
"""


QUERIES["x31_poisson_bootstrap"] = x31_poisson_bootstrap
ORACLES["x31_poisson_bootstrap"] = ORACLE_X31


# ---------------------------------------------------------------------------
# x32 — two-proportion A/B significance test with a threshold-sensitivity
# sweep: users hash into experiment arms, "converted" means at-least-K
# purchase events, and each K in the sweep gets pooled two-proportion
# z-test verdicts at 95% — the experimentation-platform readout every
# event pipeline ends at. The reference relays the raw events
# (app/app.py:393-524); this is the canonical downstream consumer.
#
# Cross-engine determinism: arm assignment is the fixed affine hash
# ((uid % P) * A + B) % P % 2 (x13 family — every product < 2^63); all
# counts are exact integers; z^2 = d^2*N / (n1*n2*X*(N-X)) is evaluated
# in DOUBLE with a FIXED operation order — every step is an IEEE-defined
# op on identical inputs, so both engines produce the same bits (only
# sum ORDER and libm calls diverge across engines; neither appears).
# The verdict compares the unrounded z^2 to the chi-square(1) critical
# value 3.8416 — a deterministic boolean, the sketch-verdict discipline.
# No int64 path can overflow at any scale: d, n, X stay < 2^53 exact up
# to ~9e15 users per arm, and past that the double rounding is still
# bit-identical cross-engine.
#
# Scale: one (user_id) aggregate with map-side combine folds the corpus
# to per-user purchase counts; the sweep explodes x3 on the per-user
# table and folds straight into a 3-row conditional aggregate — the
# shuffle carries <= 3 partial rows per task.
# ---------------------------------------------------------------------------
X32_P = 1_000_000_007
X32_A = 179424673
X32_B = 104729
X32_THRESHOLDS = (10, 15, 20)
X32_Z2_CRIT_95 = 3.8416  # chi-square(1 dof) at alpha = 0.05


def x32_ab_proportion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    users = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum((F.col("event_type") == "purchase").cast("long")).alias(
                "purchases"
            )
        )
        .withColumn(
            "arm",
            (((F.col("user_id") % X32_P) * X32_A + X32_B) % X32_P % 2).cast("int"),
        )
    )
    swept = users.select(
        "arm",
        "purchases",
        F.explode(
            F.array(*[F.lit(k) for k in X32_THRESHOLDS])
        ).alias("k_min"),
    )
    counts = swept.groupBy("k_min").agg(
        F.sum((F.col("arm") == 0).cast("long")).alias("n_a"),
        F.sum((F.col("arm") == 1).cast("long")).alias("n_b"),
        F.sum(
            ((F.col("arm") == 0) & (F.col("purchases") >= F.col("k_min"))).cast("long")
        ).alias("x_a"),
        F.sum(
            ((F.col("arm") == 1) & (F.col("purchases") >= F.col("k_min"))).cast("long")
        ).alias("x_b"),
    )
    enriched = counts.select(
        "*",
        (F.col("x_a") * F.col("n_b") - F.col("x_b") * F.col("n_a")).alias("d"),
        (F.col("x_a") + F.col("x_b")).alias("x_pool"),
        (F.col("n_a") + F.col("n_b")).alias("n_pool"),
    )
    z2 = (
        F.col("d").cast("double")
        * F.col("d").cast("double")
        * F.col("n_pool").cast("double")
    ) / (
        F.col("n_a").cast("double")
        * F.col("n_b").cast("double")
        * F.col("x_pool").cast("double")
        * (F.col("n_pool") - F.col("x_pool")).cast("double")
    )
    return enriched.select(
        F.col("k_min").cast("int").alias("k_min"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("x_a").cast("long").alias("x_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("x_b").cast("long").alias("x_b"),
        # round-10 conversion: exact int/int micros for the rates;
        # floor_scaled for z² (its fixed-order double chain is
        # bit-identical cross-engine and stays overflow-free at any
        # scale, which an integer form would not — see docstring).
        (F.expr("x_a * 1000000 DIV n_a") / 1_000_000.0).alias("rate_a"),
        (F.expr("x_b * 1000000 DIV n_b") / 1_000_000.0).alias("rate_b"),
        floor_scaled(z2, 6).alias("z_sq"),
        (z2 > F.lit(X32_Z2_CRIT_95)).alias("significant_95"),
    )


ORACLE_X32 = f"""
WITH users AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchases,
         CAST((((user_id % {X32_P}) * {X32_A} + {X32_B}) % {X32_P}) % 2 AS INTEGER)
           AS arm
  FROM events GROUP BY user_id
),
swept AS (
  SELECT u.arm, u.purchases, k.k_min
  FROM users u
  CROSS JOIN (VALUES {', '.join(f'({k})' for k in X32_THRESHOLDS)}) k(k_min)
),
counts AS (
  SELECT k_min,
         SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
         SUM(CASE WHEN arm = 0 AND purchases >= k_min THEN 1 ELSE 0 END) AS x_a,
         SUM(CASE WHEN arm = 1 AND purchases >= k_min THEN 1 ELSE 0 END) AS x_b
  FROM swept GROUP BY k_min
),
enriched AS (
  SELECT *, x_a * n_b - x_b * n_a AS d,
         x_a + x_b AS x_pool, n_a + n_b AS n_pool
  FROM counts
),
scored AS (
  SELECT *,
         (CAST(d AS DOUBLE) * CAST(d AS DOUBLE) * CAST(n_pool AS DOUBLE))
         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * CAST(x_pool AS DOUBLE)
            * CAST(n_pool - x_pool AS DOUBLE)) AS z2
  FROM enriched
)
SELECT CAST(k_min AS INTEGER) AS k_min,
       CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS x_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS x_b,
       (x_a * 1000000 // n_a) / 1000000.0 AS rate_a,
       (x_b * 1000000 // n_b) / 1000000.0 AS rate_b,
       {sql_floor_scaled("z2")} AS z_sq,
       z2 > {X32_Z2_CRIT_95} AS significant_95
FROM scored
"""


QUERIES["x32_ab_proportion_test"] = x32_ab_proportion_test
ORACLES["x32_ab_proportion_test"] = ORACLE_X32


# ---------------------------------------------------------------------------
# x33 — Benford first-digit audit: the first significant digit of every
# order total vs Benford's law, with an exact chi-square verdict — the
# classic anomaly/fraud screen a data-quality layer runs over money
# columns. Expected probabilities log10(1 + 1/d) are HARDCODED exact
# micro-unit constants (no libm at query time); they sum to exactly
# 1,000,000.
#
# Cross-engine determinism (the e39 truncating-division discipline):
# each digit's chi-square term is computed as the INTEGER micro-unit
# floor(((1e6*obs - n*P_d)^2 * 1e6) / (n*P_d*1e6)) via decimal DIV —
# numerators reach 1e36 at design scale, inside DECIMAL(38,0); DuckDB
# mirrors with HUGEINT //. The per-digit terms sum exactly as BIGINT;
# the reject verdict compares integer micro-units to the chi-square
# (8 dof, alpha=0.05) critical value 15.5073 scaled by 1e6.
#
# Scale: first_digit is map-side string work on the cents integer; the
# aggregate groups on the FIXED 9-digit domain with map-side combine;
# the 9-row total window is bounded. One scan, one 9-row shuffle.
# ---------------------------------------------------------------------------
X33_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}
X33_CHI2_CRIT_MICRO = 15_507_300  # chi-square(8 dof) at alpha = 0.05, x1e6


def x33_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    dollars = table(spark, sf_dir, "orders").select(
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 100"
        ).alias("dollars")
    )
    digits = dollars.select(
        F.substring(F.col("dollars").cast("string"), 1, 1).cast("int").alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("obs"))
    n_total = digits.agg(F.count(F.lit(1)).alias("n"))
    expected = spark.createDataFrame(
        [(d, p) for d, p in X33_BENFORD_PPM.items()], "digit int, p_ppm long"
    )
    # broadcast the PROVABLY bounded sides: the 9-row expected table (a
    # local relation) and the 1-row total — never the data-derived obs.
    joined = (
        obs.join(F.broadcast(expected), "digit", "right")
        .na.fill({"obs": 0})
        .crossJoin(F.broadcast(n_total))
    )
    term = joined.select(
        "digit",
        "obs",
        "n",
        F.expr("n * p_ppm DIV 1000").alias("expected_milli"),
        F.expr(
            "(CAST(1000000 * obs - n * p_ppm AS DECIMAL(38,0))"
            " * CAST(1000000 * obs - n * p_ppm AS DECIMAL(38,0))"
            " * 1000000)"
            " DIV (CAST(n AS DECIMAL(38,0)) * p_ppm * 1000000)"
        ).alias("term_micro"),
    )
    w_all = Window.partitionBy()
    return term.select(
        F.col("digit").cast("int").alias("digit"),
        F.col("obs").cast("long").alias("n_obs"),
        F.expr("obs * 1000000 DIV n").cast("long").alias("obs_ppm"),
        F.col("expected_milli").cast("long").alias("expected_milli"),
        F.col("term_micro").cast("long").alias("term_micro"),
        F.sum("term_micro").over(w_all).cast("long").alias("chi2_micro"),
        (
            F.sum("term_micro").over(w_all) > F.lit(X33_CHI2_CRIT_MICRO)
        ).alias("reject_benford_95"),
    )


ORACLE_X33 = f"""
WITH dollars AS (
  SELECT CAST(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)) * 100 AS BIGINT)
           // 100 AS dollars
  FROM orders
),
digits AS (
  SELECT CAST(SUBSTR(CAST(dollars AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM dollars
),
obs AS (SELECT digit, COUNT(*) AS obs FROM digits GROUP BY digit),
n_total AS (SELECT COUNT(*) AS n FROM digits),
expected(digit, p_ppm) AS (VALUES
  {', '.join(f'({d}, {p})' for d, p in X33_BENFORD_PPM.items())}
),
term AS (
  SELECT e.digit, COALESCE(o.obs, 0) AS obs, t.n,
         t.n * e.p_ppm // 1000 AS expected_milli,
         (CAST(1000000 * COALESCE(o.obs, 0) - t.n * e.p_ppm AS HUGEINT)
          * CAST(1000000 * COALESCE(o.obs, 0) - t.n * e.p_ppm AS HUGEINT)
          * 1000000)
         // (CAST(t.n AS HUGEINT) * e.p_ppm * 1000000) AS term_micro
  FROM expected e LEFT JOIN obs o ON e.digit = o.digit CROSS JOIN n_total t
)
SELECT CAST(digit AS INTEGER) AS digit,
       CAST(obs AS BIGINT) AS n_obs,
       CAST(obs * 1000000 // n AS BIGINT) AS obs_ppm,
       CAST(expected_milli AS BIGINT) AS expected_milli,
       CAST(term_micro AS BIGINT) AS term_micro,
       CAST(SUM(term_micro) OVER () AS BIGINT) AS chi2_micro,
       SUM(term_micro) OVER () > {X33_CHI2_CRIT_MICRO} AS reject_benford_95
FROM term
"""


QUERIES["x33_benford_audit"] = x33_benford_audit
ORACLES["x33_benford_audit"] = ORACLE_X33


# ---------------------------------------------------------------------------
# x34 — CUPED variance reduction (x32's production sibling): adjust the
# experiment metric with each user's PRE-period covariate,
#   Y' = Y - theta * X,   theta = cov(X, Y) / var(X),
# and report how much metric variance the adjustment removes (rho^2) —
# the standard trick that makes A/B tests converge weeks faster when
# pre-behavior predicts post-behavior. Pre = purchase revenue in days
# 1-15 of the month, post = days 16+; arms reuse x32's affine hash.
#
# Cross-engine determinism: per-user revenues fold as exact integer
# cents; ALL five pooled moments (n, Sx, Sy, Sxx, Sxy, Syy) are exact
# DECIMAL(38,0) integers; theta / rho^2 / the adjusted arm means are
# fixed-order DOUBLE expressions over those scale-0 integers (scale-0
# decimal -> double is plain integer rounding, portable — unlike the
# high-scale decimal casts v36 had to ban); the cuped_helps verdict
# compares the unrounded rho^2. Bounds at 1e9 users x $10k: Sxy <= 1e9
# * (1e6)^2 = 1e21, n*Sxy <= 1e30 — inside DECIMAL(38,0).
#
# Scale: ONE (user_id) aggregate with map-side combine folds the corpus
# to per-user (pre, post) pairs; everything after is a 2-row (per-arm)
# conditional aggregate folded into 1 row. No join, no window.
# ---------------------------------------------------------------------------
X34_RHO2_MIN = 0.01


def x34_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        F.dayofmonth("ts").alias("dom"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    users = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("dom") <= 15, F.col("cents")).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("dom") > 15, F.col("cents")).otherwise(0)).alias("y"),
    ).withColumn(
        "arm",
        (((F.col("user_id") % X32_P) * X32_A + X32_B) % X32_P % 2).cast("int"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")
    m = users.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d("x")).alias("sx"),
        F.sum(d("y")).alias("sy"),
        F.sum(d("x") * d("x")).alias("sxx"),
        F.sum(d("x") * d("y")).alias("sxy"),
        F.sum(d("y") * d("y")).alias("syy"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, d("y"))).alias("sy_a"),
        F.sum(F.when(F.col("arm") == 0, d("x"))).alias("sx_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, d("y"))).alias("sy_b"),
        F.sum(F.when(F.col("arm") == 1, d("x"))).alias("sx_b"),
    )
    dbl = lambda c: F.col(c).cast("double")
    cov_n = dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy")   # n^2 * cov
    varx_n = dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx")  # n^2 * var(x)
    vary_n = dbl("n") * dbl("syy") - dbl("sy") * dbl("sy")  # n^2 * var(y)
    theta = cov_n / varx_n
    rho2 = cov_n * cov_n / (varx_n * vary_n)
    diff_raw = dbl("sy_b") / dbl("n_b") - dbl("sy_a") / dbl("n_a")
    diff_adj = diff_raw - theta * (dbl("sx_b") / dbl("n_b") - dbl("sx_a") / dbl("n_a"))
    # round-10 conversion: theta and diff_raw are exact decimal-DIV
    # micros (their numerators stay inside DECIMAL(38,0) at design
    # scale); rho² and the theta-bearing diff_cuped keep the fixed-order
    # double chain (cov² would overflow any integer width) and publish
    # via floor_scaled.
    return m.select(
        F.col("n").cast("long").alias("n_users"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (
            F.expr("(n * sxy - sx * sy) * 1000000 DIV (n * sxx - sx * sx)")
            / 1_000_000.0
        ).alias("theta"),
        floor_scaled(rho2, 6).alias("rho_sq"),
        (
            F.expr("(sy_b * n_a - sy_a * n_b) * 10000 DIV (n_a * n_b)")
            / 1_000_000.0
        ).alias("diff_raw"),
        floor_scaled(diff_adj / 100.0, 4).alias("diff_cuped"),
        (rho2 > F.lit(X34_RHO2_MIN)).alias("cuped_helps"),
    )


ORACLE_X34 = f"""
WITH ev AS (
  SELECT user_id, EXTRACT(day FROM ts) AS dom,
         CAST(CAST(ROUND(value, 2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
users AS (
  SELECT user_id,
         SUM(CASE WHEN dom <= 15 THEN cents ELSE 0 END) AS x,
         SUM(CASE WHEN dom > 15 THEN cents ELSE 0 END) AS y,
         CAST((((user_id % {X32_P}) * {X32_A} + {X32_B}) % {X32_P}) % 2
              AS INTEGER) AS arm
  FROM ev GROUP BY user_id
),
m AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(y AS HUGEINT) * y) AS syy,
         SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN arm = 0 THEN CAST(y AS HUGEINT) END) AS sy_a,
         SUM(CASE WHEN arm = 0 THEN CAST(x AS HUGEINT) END) AS sx_a,
         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
         SUM(CASE WHEN arm = 1 THEN CAST(y AS HUGEINT) END) AS sy_b,
         SUM(CASE WHEN arm = 1 THEN CAST(x AS HUGEINT) END) AS sx_b
  FROM users
),
scored AS (
  SELECT *,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS cov_n,
         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS varx_n,
         (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS vary_n,
         (CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
          - CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)) AS diff_raw
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_users,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       ((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx)) / 1000000.0
         AS theta,
       {sql_floor_scaled("cov_n * cov_n / (varx_n * vary_n)")} AS rho_sq,
       ((sy_b * n_a - sy_a * n_b) * 10000 // (CAST(n_a AS HUGEINT) * n_b))
         / 1000000.0 AS diff_raw,
       {sql_floor_scaled("(diff_raw - (cov_n / varx_n)"
                         " * (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)"
                         " - CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE))) / 100.0",
                         4)} AS diff_cuped,
       cov_n * cov_n / (varx_n * vary_n) > {X34_RHO2_MIN} AS cuped_helps
FROM scored
"""


QUERIES["x34_cuped_adjustment"] = x34_cuped_adjustment
ORACLES["x34_cuped_adjustment"] = ORACLE_X34


# ---------------------------------------------------------------------------
# x35 — Welch's t-test on a CONTINUOUS metric (revenue per user),
# completing the experimentation suite: x32 tests proportions, x34
# derisks with a covariate, x35 answers the most common question —
# "did mean revenue move?" — without assuming equal variances.
#
#   t^2 = (mean_b - mean_a)^2 / (var_a/n_a + var_b/n_b)
#
# Cross-engine determinism: per-arm (n, Σx, Σx²) fold as exact
# DECIMAL(38,0) integer cents; t² is a fixed-order IEEE-double
# expression over those scale-0 integers (the x32/x34 rule: no sum
# order, no libm → bit-portable); the verdict compares the unrounded
# t² to the z²_crit 3.8416 (Welch dof is large at any realistic n;
# the normal critical value is the standard large-sample reading).
# Sample variances use the n-1 denominator: var = (n·Σx² − (Σx)²) /
# (n·(n−1)).
#
# Scale: one (user_id) aggregate with map-side combine, then a 1-row
# conditional aggregate. No join, no window.
# ---------------------------------------------------------------------------
def x35_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    users = ev.groupBy("user_id").agg(F.sum("cents").alias("x")).withColumn(
        "arm",
        (((F.col("user_id") % X32_P) * X32_A + X32_B) % X32_P % 2).cast("int"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")
    m = users.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, d("x"))).alias("s_a"),
        F.sum(F.when(F.col("arm") == 0, d("x") * d("x"))).alias("q_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, d("x"))).alias("s_b"),
        F.sum(F.when(F.col("arm") == 1, d("x") * d("x"))).alias("q_b"),
    )
    dbl = lambda c: F.col(c).cast("double")
    mean_a = dbl("s_a") / dbl("n_a")
    mean_b = dbl("s_b") / dbl("n_b")
    # var/n = (n*q - s^2) / (n * (n-1) * n)
    se2_a = (dbl("n_a") * dbl("q_a") - dbl("s_a") * dbl("s_a")) / (
        dbl("n_a") * (dbl("n_a") - 1.0) * dbl("n_a")
    )
    se2_b = (dbl("n_b") * dbl("q_b") - dbl("s_b") * dbl("s_b")) / (
        dbl("n_b") * (dbl("n_b") - 1.0) * dbl("n_b")
    )
    t2 = (mean_b - mean_a) * (mean_b - mean_a) / (se2_a + se2_b)
    return m.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        # round-10 conversion: means as exact decimal-DIV micros; t² keeps
        # the fixed-order double chain (overflow-free at any scale) and
        # publishes via floor_scaled (the x32 z² rule).
        (F.expr("s_a * 10000 DIV n_a") / 1_000_000.0).alias("mean_a"),
        (F.expr("s_b * 10000 DIV n_b") / 1_000_000.0).alias("mean_b"),
        floor_scaled(t2, 6).alias("t_sq"),
        (t2 > F.lit(X32_Z2_CRIT_95)).alias("significant_95"),
    )


ORACLE_X35 = f"""
WITH ev AS (
  SELECT user_id,
         CAST(CAST(ROUND(value, 2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
users AS (
  SELECT user_id, SUM(cents) AS x,
         CAST((((user_id % {X32_P}) * {X32_A} + {X32_B}) % {X32_P}) % 2
              AS INTEGER) AS arm
  FROM ev GROUP BY user_id
),
m AS (
  SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN arm = 0 THEN CAST(x AS HUGEINT) END) AS s_a,
         SUM(CASE WHEN arm = 0 THEN CAST(x AS HUGEINT) * x END) AS q_a,
         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
         SUM(CASE WHEN arm = 1 THEN CAST(x AS HUGEINT) END) AS s_b,
         SUM(CASE WHEN arm = 1 THEN CAST(x AS HUGEINT) * x END) AS q_b
  FROM users
),
scored AS (
  SELECT *,
         CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
         CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
         (CAST(n_a AS DOUBLE) * CAST(q_a AS DOUBLE)
          - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE))
         / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)
            * CAST(n_a AS DOUBLE)) AS se2_a,
         (CAST(n_b AS DOUBLE) * CAST(q_b AS DOUBLE)
          - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE))
         / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)
            * CAST(n_b AS DOUBLE)) AS se2_b
  FROM m
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       (s_a * 10000 // n_a) / 1000000.0 AS mean_a,
       (s_b * 10000 // n_b) / 1000000.0 AS mean_b,
       {sql_floor_scaled("(mean_b - mean_a) * (mean_b - mean_a) / (se2_a + se2_b)")}
         AS t_sq,
       (mean_b - mean_a) * (mean_b - mean_a) / (se2_a + se2_b)
         > {X32_Z2_CRIT_95} AS significant_95
FROM scored
"""


QUERIES["x35_welch_ttest"] = x35_welch_ttest
ORACLES["x35_welch_ttest"] = ORACLE_X35


# ---------------------------------------------------------------------------
# x36 — sample-ratio-mismatch (SRM) check: is the experiment's traffic
# split actually the 50/50 the assignment hash promises? A skewed split
# invalidates x32/x34/x35 before any metric is read — every
# experimentation platform runs this guardrail first. Chi-square
# goodness-of-fit of the PER-DAY arm counts against the pooled split,
# plus the overall one-degree test — per-day because SRM usually comes
# from a deploy mid-experiment, visible only in the daily series.
#
# Cross-engine determinism: the x33 discipline — chi-square terms as
# integer micro-units via decimal DIV against the expected half
# (2*obs - n)^2 / n algebraically, scaled: for a 50/50 split the
# one-dof statistic is (n_a - n_b)^2 / (n_a + n_b); per day it sums.
# All integers until the final /1e6 display division.
#
# Scale: one (user_id, day) aggregate (map-side combine) folds the
# corpus to per-user first-seen rows; the daily SRM table is
# calendar-bounded. No join except the calendar-bounded verdict window.
# ---------------------------------------------------------------------------
X36_CHI2_1DOF_CRIT_MICRO = 3_841_460  # alpha = 0.05, 1 dof, x1e6


def x36_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    # a user enters the experiment on their FIRST active day
    entry = ev.groupBy("user_id").agg(F.min("day").alias("day")).withColumn(
        "arm",
        (((F.col("user_id") % X32_P) * X32_A + X32_B) % X32_P % 2).cast("int"),
    )
    daily = entry.groupBy("day").agg(
        F.sum((F.col("arm") == 0).cast("long")).alias("n_a"),
        F.sum((F.col("arm") == 1).cast("long")).alias("n_b"),
    )
    # chi2_micro = 1e6 * (n_a - n_b)^2 / (n_a + n_b), integer DIV
    chi = F.expr(
        "CAST((n_a - n_b) * (n_a - n_b) AS DECIMAL(38,0)) * 1000000"
        " DIV CAST(n_a + n_b AS DECIMAL(38,0))"
    )
    w_all = Window.partitionBy()
    return (
        daily.withColumn("day_chi2_micro", chi.cast("long"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "day_chi2_micro",
            (F.col("day_chi2_micro") > X36_CHI2_1DOF_CRIT_MICRO).alias(
                "day_srm_flag"
            ),
            F.expr(
                "CAST(SUM(n_a) OVER () - SUM(n_b) OVER () AS DECIMAL(38,0))"
                " * (SUM(n_a) OVER () - SUM(n_b) OVER ()) * 1000000"
                " DIV CAST(SUM(n_a) OVER () + SUM(n_b) OVER () AS DECIMAL(38,0))"
            )
            .cast("long")
            .alias("overall_chi2_micro"),
        )
        .withColumn(
            "overall_srm_flag",
            F.col("overall_chi2_micro") > X36_CHI2_1DOF_CRIT_MICRO,
        )
    )


ORACLE_X36 = f"""
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day FROM events
),
entry AS (
  SELECT user_id, MIN(day) AS day,
         CAST((((user_id % {X32_P}) * {X32_A} + {X32_B}) % {X32_P}) % 2
              AS INTEGER) AS arm
  FROM ev GROUP BY user_id
),
daily AS (
  SELECT day,
         SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b
  FROM entry GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(CAST((n_a - n_b) * (n_a - n_b) AS HUGEINT) * 1000000
            // CAST(n_a + n_b AS HUGEINT) AS BIGINT) AS day_chi2_micro,
       CAST((n_a - n_b) * (n_a - n_b) AS HUGEINT) * 1000000
         // CAST(n_a + n_b AS HUGEINT) > {X36_CHI2_1DOF_CRIT_MICRO}
         AS day_srm_flag,
       CAST(CAST(SUM(n_a) OVER () - SUM(n_b) OVER () AS HUGEINT)
            * (SUM(n_a) OVER () - SUM(n_b) OVER ()) * 1000000
            // CAST(SUM(n_a) OVER () + SUM(n_b) OVER () AS HUGEINT) AS BIGINT)
         AS overall_chi2_micro,
       CAST(SUM(n_a) OVER () - SUM(n_b) OVER () AS HUGEINT)
         * (SUM(n_a) OVER () - SUM(n_b) OVER ()) * 1000000
         // CAST(SUM(n_a) OVER () + SUM(n_b) OVER () AS HUGEINT)
         > {X36_CHI2_1DOF_CRIT_MICRO} AS overall_srm_flag
FROM daily
"""


QUERIES["x36_srm_check"] = x36_srm_check
ORACLES["x36_srm_check"] = ORACLE_X36


# ---------------------------------------------------------------------------
# x37 — Mann-Whitney U test (nonparametric A/B): does arm B's per-user
# revenue distribution stochastically dominate arm A's? The rank test
# the experimentation suite needs when x35's t-test assumptions break
# (heavy-tailed revenue). The textbook computation sorts the combined
# sample — a corpus-wide single-task global rank. Here it is factored
# EXACTLY through the value histogram instead:
#
#   per distinct value v: (n_a, n_b, t = n_a + n_b); ranks of a tie
#   group share the midrank cum_before + (t+1)/2, so
#   2*R_a = sum_v n_a(v) * (2*cum_before(v) + t(v) + 1)  — all integer.
#
# The cum_before running sum rides the e42 two-level scan (intra-block
# window on value DIV 1e6 + prefix over the block summary), so no
# value-domain-sized single partition exists. Tie-corrected normal
# approximation:
#   z^2 = 3*N*(N-1)*d^2 / (n_a*n_b*(N*(N^2-1) - sum(t^3-t))),
#   d = 2*U_a - n_a*n_b  (integer)
# evaluated as a fixed-order double over exact decimal integers.
#
# Cross-engine determinism: every rank/tie quantity is an exact integer
# (2x-scaled midranks); the only doubles are the final fixed-order
# ratio and ROUND.
# ---------------------------------------------------------------------------
X37_BLOCK = 1_000_000  # cents per cumsum block ($10k)


def x37_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    users = ev.groupBy("user_id").agg(F.sum("cents").alias("x")).withColumn(
        "arm",
        (((F.col("user_id") % X32_P) * X32_A + X32_B) % X32_P % 2).cast("int"),
    )
    hist = users.groupBy("x").agg(
        F.sum((F.col("arm") == 0).cast("long")).alias("na"),
        F.sum((F.col("arm") == 1).cast("long")).alias("nb"),
        F.count(F.lit(1)).alias("t"),
    ).withColumn("blk", F.expr(f"x DIV {X37_BLOCK}"))
    w_in = (
        Window.partitionBy("blk")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    intra = hist.withColumn("cum_in", F.sum("t").over(w_in))
    blocks = hist.groupBy("blk").agg(F.sum("t").alias("blk_t"))
    w_pre = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    prefix = blocks.withColumn("cum_pre", F.sum("blk_t").over(w_pre)).select(
        "blk", "cum_pre"
    )
    ranked = intra.join(prefix, "blk").withColumn(
        "cum_before",
        F.coalesce(F.col("cum_in"), F.lit(0)) + F.coalesce(F.col("cum_pre"), F.lit(0)),
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")
    m = ranked.agg(
        F.sum("na").alias("n_a"),
        F.sum("nb").alias("n_b"),
        F.sum(
            d38("na") * (2 * d38("cum_before") + d38("t") + 1)
        ).alias("r2_a"),
        F.sum(d38("t") * d38("t") * d38("t") - d38("t")).alias("ties3"),
    )
    dbl = lambda c: F.col(c).cast("double")
    n_tot = F.col("n_a") + F.col("n_b")
    # d = 2*U_a - n_a*n_b where 2*U_a = r2_a - n_a*(n_a+1)
    d_stat = (
        F.col("r2_a").cast("decimal(38,0)")
        - d38("n_a") * (d38("n_a") + 1)
        - d38("n_a") * d38("n_b")
    )
    z2 = (
        3.0
        * n_tot.cast("double")
        * (n_tot - 1).cast("double")
        * d_stat.cast("double")
        * d_stat.cast("double")
    ) / (
        dbl("n_a")
        * dbl("n_b")
        * (
            n_tot.cast("double")
            * (n_tot.cast("double") * n_tot.cast("double") - 1.0)
            - F.col("ties3").cast("double")
        )
    )
    return m.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        ((F.col("r2_a").cast("decimal(38,0)") - d38("n_a") * (d38("n_a") + 1)))
        .cast("long")
        .alias("u2_a"),
        F.col("ties3").cast("long").alias("tie_correction"),
        # round-10 conversion: the x32 z² rule — fixed-order double
        # chain, floor_scaled publish (d² overflows any integer width).
        floor_scaled(z2, 6).alias("z_sq"),
        (z2 > F.lit(X32_Z2_CRIT_95)).alias("significant_95"),
    )


ORACLE_X37 = f"""
WITH ev AS (
  SELECT user_id,
         CAST(CAST(ROUND(value, 2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
users AS (
  SELECT user_id, SUM(cents) AS x,
         CAST((((user_id % {X32_P}) * {X32_A} + {X32_B}) % {X32_P}) % 2
              AS INTEGER) AS arm
  FROM ev GROUP BY user_id
),
hist AS (
  SELECT x,
         SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb,
         COUNT(*) AS t
  FROM users GROUP BY x
),
ranked AS (
  SELECT *,
         COALESCE(SUM(t) OVER (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM hist
),
m AS (
  SELECT SUM(na) AS n_a, SUM(nb) AS n_b,
         SUM(CAST(na AS HUGEINT) * (2 * CAST(cum_before AS HUGEINT) + t + 1))
           AS r2_a,
         SUM(CAST(t AS HUGEINT) * t * t - t) AS ties3
  FROM ranked
),
scored AS (
  SELECT *,
         n_a + n_b AS n_tot,
         r2_a - CAST(n_a AS HUGEINT) * (n_a + 1) AS u2_a,
         r2_a - CAST(n_a AS HUGEINT) * (n_a + 1)
           - CAST(n_a AS HUGEINT) * n_b AS d_stat
  FROM m
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(u2_a AS BIGINT) AS u2_a,
       CAST(ties3 AS BIGINT) AS tie_correction,
       {sql_floor_scaled("(3.0 * CAST(n_tot AS DOUBLE) * CAST(n_tot - 1 AS DOUBLE)"
                         " * CAST(d_stat AS DOUBLE) * CAST(d_stat AS DOUBLE))"
                         " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)"
                         " * (CAST(n_tot AS DOUBLE)"
                         " * (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE) - 1.0)"
                         " - CAST(ties3 AS DOUBLE)))")} AS z_sq,
       (3.0 * CAST(n_tot AS DOUBLE) * CAST(n_tot - 1 AS DOUBLE)
        * CAST(d_stat AS DOUBLE) * CAST(d_stat AS DOUBLE))
       / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
          * (CAST(n_tot AS DOUBLE)
             * (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE) - 1.0)
             - CAST(ties3 AS DOUBLE))) > {X32_Z2_CRIT_95} AS significant_95
FROM scored
"""


QUERIES["x37_mann_whitney"] = x37_mann_whitney
ORACLES["x37_mann_whitney"] = ORACLE_X37


# ---------------------------------------------------------------------------
# x38 — minimum detectable effect (MDE) planner: BEFORE the experiment
# reads any metric, what's the smallest conversion-rate lift this
# traffic can detect at alpha=5% / power=80%? The design-stage sibling
# of x23's sample-size planner, aimed at the x32 proportion test:
#
#   MDE_abs = (z_{a/2} + z_b) * sqrt(2 p (1-p) / n_arm)
#
# with the normal quantiles HARDCODED (1.96, 0.8416 — no inverse-CDF
# libm at query time) and p the pooled baseline conversion.
#
# Cross-engine determinism: counts are integers; p folds as an exact
# ppm integer (truncating DIV); sqrt is correctly-rounded IEEE (the
# t27 rule: sqrt portable, log/pow not); the rest is fixed-order
# double arithmetic.
#
# Scale: one (user_id) fold with map-side combine, then a 1-row
# aggregate. No join, no window.
# ---------------------------------------------------------------------------
X38_Z_HALF_ALPHA = 1.96    # alpha = 0.05, two-sided
X38_Z_POWER = 0.8416       # power = 0.80
X38_CONV_K = 15            # conversion = >= 15 purchases (x32's middle K)


def x38_mde_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    users = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum((F.col("event_type") == "purchase").cast("long")).alias(
                "purchases"
            )
        )
        .withColumn(
            "arm",
            (((F.col("user_id") % X32_P) * X32_A + X32_B) % X32_P % 2).cast("int"),
        )
    )
    m = users.agg(
        F.sum((F.col("arm") == 0).cast("long")).alias("n_a"),
        F.sum((F.col("arm") == 1).cast("long")).alias("n_b"),
        F.sum((F.col("purchases") >= X38_CONV_K).cast("long")).alias("x_pool"),
        F.count(F.lit(1)).alias("n_pool"),
    )
    dbl = lambda c: F.col(c).cast("double")
    p = dbl("x_pool") / dbl("n_pool")
    n_arm = F.least(F.col("n_a"), F.col("n_b")).cast("double")
    mde_abs = (X38_Z_HALF_ALPHA + X38_Z_POWER) * F.sqrt(
        2.0 * p * (1.0 - p) / n_arm
    )
    return m.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.expr("x_pool * 1000000 DIV n_pool").cast("long").alias("p_pool_ppm"),
        # round-10 conversion: sqrt-bearing → floor_scaled (no integer
        # form; ROUND was t09-class).
        floor_scaled(mde_abs, 6).alias("mde_abs"),
        floor_scaled(mde_abs / p, 6).alias("mde_rel"),
        (mde_abs < 0.05).alias("powered_for_5pp"),
    )


ORACLE_X38 = f"""
WITH users AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchases,
         CAST((((user_id % {X32_P}) * {X32_A} + {X32_B}) % {X32_P}) % 2
              AS INTEGER) AS arm
  FROM events GROUP BY user_id
),
m AS (
  SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
         SUM(CASE WHEN purchases >= {X38_CONV_K} THEN 1 ELSE 0 END) AS x_pool,
         COUNT(*) AS n_pool
  FROM users
),
scored AS (
  SELECT *,
         CAST(x_pool AS DOUBLE) / CAST(n_pool AS DOUBLE) AS p,
         ({X38_Z_HALF_ALPHA} + {X38_Z_POWER})
           * SQRT(2.0 * (CAST(x_pool AS DOUBLE) / CAST(n_pool AS DOUBLE))
                  * (1.0 - CAST(x_pool AS DOUBLE) / CAST(n_pool AS DOUBLE))
                  / CAST(LEAST(n_a, n_b) AS DOUBLE)) AS mde_abs
  FROM m
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(x_pool * 1000000 // n_pool AS BIGINT) AS p_pool_ppm,
       {sql_floor_scaled("mde_abs")} AS mde_abs,
       {sql_floor_scaled("mde_abs / p")} AS mde_rel,
       mde_abs < 0.05 AS powered_for_5pp
FROM scored
"""


QUERIES["x38_mde_planner"] = x38_mde_planner
ORACLES["x38_mde_planner"] = ORACLE_X38
