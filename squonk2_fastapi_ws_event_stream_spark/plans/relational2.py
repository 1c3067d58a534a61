"""Round-2 relational surface widening: window frames.

q25 exercises the window-frame grammar the rest of the suite doesn't:
percent_rank / cume_dist / ntile ranking, nth_value, a ROWS frame
(moving sum over the 3 most recent orders) and a numeric RANGE frame
(trailing-30-day spend, keyed on days-since-epoch so both engines use a
plain numeric range — Spark's DataFrame API has no calendar-interval
range frames, and the SQL form diverges between engines).

Scale design: every window partitions by o_custkey — the work
distributes across customers with no single-partition exchange (the
q02/e08 lesson from round 1, applied from the start). Determinism: tie
columns (o_orderdate, o_orderkey) give a total order inside each
partition, so ntile/nth_value/ROWS frames are engine-stable; money sums
are cast to DECIMAL(18,2) before aggregation so summation order can't
perturb doubles.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..tables import register_views, table

EPOCH = "1992-01-01"


def q25_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 50 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
            F.datediff(F.to_date("o_orderdate"), F.lit(EPOCH)).alias("day_num"),
        )
    )
    w_total = Window.partitionBy("o_custkey").orderBy("day_num", "o_orderkey")
    w_range30 = (
        Window.partitionBy("o_custkey").orderBy("day_num").rangeBetween(-30, 0)
    )
    w_rows3 = w_total.rowsBetween(-2, 0)
    # percent_rank/cume_dist are int/int ratios; the ordering key
    # (day_num, o_orderkey) is UNIQUE (o_orderkey is the orders PK), so
    # rank == row_number and the peer group is always 1 — both publish as
    # exact integer micros instead of the t09-class float ROUND.
    staged = orders.select(
        "o_orderkey",
        "o_custkey",
        "day_num",
        F.row_number().over(w_total).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("o_custkey"))
        .alias("n_part"),
        F.ntile(4).over(w_total).alias("quartile"),
        # Sums aggregate in DECIMAL (order-insensitive, exact); the final
        # cast to rounded DOUBLE is display-only, so pandas dtypes agree
        # between engines (DuckDB fetchdf renders DECIMAL as float64).
        F.round(F.first("price").over(w_total).cast("double"), 2).alias("first_price"),
        F.round(F.nth_value("price", 2).over(w_total).cast("double"), 2).alias("second_price"),
        F.round(F.sum("price").over(w_rows3).cast("double"), 2).alias("last3_sum"),
        F.round(F.sum("price").over(w_range30).cast("double"), 2).alias("trailing30d_sum"),
    )
    return staged.select(
        "o_orderkey",
        "o_custkey",
        "day_num",
        F.when(F.col("n_part") == 1, F.lit(0.0))
        .otherwise(F.expr("(rn - 1) * 1000000 div (n_part - 1)") / F.lit(1e6))
        .alias("pct_rank"),
        (F.expr("rn * 1000000 div n_part") / F.lit(1e6)).alias("cume_dist"),
        "quartile",
        "first_price",
        "second_price",
        "last3_sum",
        "trailing30d_sum",
    )


ORACLE_Q25 = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
         datediff('day', DATE '{EPOCH}', CAST(o_orderdate AS DATE)) AS day_num
  FROM orders WHERE o_custkey % 50 = 0
),
r AS (
  SELECT o_orderkey, o_custkey, day_num,
         ROW_NUMBER() OVER w_total AS rn,
         COUNT(*) OVER (PARTITION BY o_custkey) AS n_part,
         ntile(4) OVER w_total AS quartile,
         ROUND(CAST(first_value(price) OVER w_total AS DOUBLE), 2) AS first_price,
         ROUND(CAST(nth_value(price, 2) OVER w_total AS DOUBLE), 2) AS second_price,
         ROUND(CAST(SUM(price) OVER (w_total ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                    AS DOUBLE), 2) AS last3_sum,
         ROUND(CAST(SUM(price) OVER (PARTITION BY o_custkey ORDER BY day_num
                                     RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
                    AS DOUBLE), 2) AS trailing30d_sum
  FROM o
  WINDOW w_total AS (PARTITION BY o_custkey ORDER BY day_num, o_orderkey)
)
SELECT o_orderkey, o_custkey, day_num,
       CASE WHEN n_part = 1 THEN 0.0
            ELSE (rn - 1) * 1000000 // (n_part - 1) / 1e6 END AS pct_rank,
       rn * 1000000 // n_part / 1e6 AS cume_dist,
       quartile, first_price, second_price, last3_sum, trailing30d_sum
FROM r
"""


# ---------------------------------------------------------------------------
# x07 — bloom-filter join pruning (runtime-filter pattern): build a bloom
# filter over the qualifying build side (orders of AUTOMOBILE customers),
# broadcast it, and pre-filter the probe side (lineitem) MAP-SIDE before any
# shuffle. At 100 TB this is the difference between shuffling the full fact
# table on the join key and shuffling only the ~selectivity fraction that can
# possibly match — the same trick Spark's own runtime row-group filtering
# plays, made explicit and engine-checkable.
#
# The bloom uses the repo's closed-form hash family ((a*key + b) mod P mod M,
# functions/hashing.py rationale) so Spark and DuckDB build bit-identical
# filters and agree on every false positive — the summary row hash-matches
# exactly. The filter itself is a REAL packed bitmap: 2^18 bits folded into
# 4096 64-bit words with a bit_or aggregate, shipped to every probe task as
# one broadcast map row (32 KB regardless of build-side cardinality), and
# probed with O(1) lookups — the shape that survives a 100-TB probe side.
# Invariant carried in the output: false_negatives MUST be 0 (a bloom never
# drops a true match); false_positives is the honest cost of the M sizing
# (2^18 bits / 3 hashes holds fp under ~3% up to ~30k build keys).
# ---------------------------------------------------------------------------
BLOOM_M = 1 << 18
BLOOM_AB = ((4973, 911), (7369, 2617), (9973, 4397))  # hashing.py prime family
_P = 1_000_000_007


def _audit_okeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qualifying build-side order keys (AUTOMOBILE customers' orders) —
    the shared build/truth population of the x07/x18 bloom audits."""
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "AUTOMOBILE")
        .select("c_custkey")
    )
    return (
        table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey")
    )


def _staged_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_orderkey, cnt, is_match) staged once per corpus and shared by
    x07 and x18: the probe fact reduced to per-key row counts BEFORE the
    truth join. bloom_pass and is_match are both functions of l_orderkey
    alone, so every audit counter is a cnt-weighted sum over distinct
    keys — the probe side shrinks from |lineitem| rows to |distinct
    l_orderkey| (the guide-§8 proxy-row move), and at cluster scale the
    only fact shuffle is map-combined (key, partial-count) pairs instead
    of a fact-sized join input."""
    from ..operators.dedup import _stage_cached

    def build() -> DataFrame:
        keyed = (
            table(spark, sf_dir, "lineitem")
            .select("l_orderkey")
            .groupBy("l_orderkey")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        truth = (
            _audit_okeys(spark, sf_dir)
            .distinct()
            .withColumn("is_match", F.lit(True))
        )
        return keyed.join(
            truth, keyed.l_orderkey == truth.o_orderkey, "left"
        ).select(
            "l_orderkey",
            "cnt",
            F.coalesce("is_match", F.lit(False)).alias("is_match"),
        )

    return _stage_cached("x07x18_key_audit", sf_dir, build)


def _bloom_pos_spark(key: "F.Column", a: int, b: int) -> "F.Column":
    return ((key * a + b) % _P) % BLOOM_M


def _bloom_pos_sql(key: str, a: int, b: int) -> str:
    return f"((({key}) * {a} + {b}) % {_P}) % {BLOOM_M}"


def x07_bloom_join_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    okeys = _audit_okeys(spark, sf_dir)
    # Build: positions → (word, bit) → bit_or per word → ONE map row.
    words = okeys.select(
        F.explode(
            F.array(*[_bloom_pos_spark(F.col("o_orderkey"), a, b) for a, b in BLOOM_AB])
        ).alias("p")
    ).select(
        (F.col("p") / 64).cast("long").alias("w"),
        # shiftleft's amount arg must be a literal in the Python API → expr
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("m"),
    )
    # Dense word array, not a map: Spark's element_at on a map is a linear
    # scan per lookup; on an array it is O(1). One row of 4096 longs.
    bitmap = (
        words.groupBy("w")
        .agg(F.expr("bit_or(m)").alias("bits"))
        .agg(F.map_from_arrays(F.collect_list("w"), F.collect_list("bits")).alias("bm"))
        .select(
            F.expr(
                f"transform(sequence(0, {BLOOM_M // 64 - 1}),"
                " w -> coalesce(element_at(bm, CAST(w AS BIGINT)), CAST(0 AS BIGINT)))"
            ).alias("bloom")
        )
    )

    def _probe_bit(a: int, b: int) -> "F.Column":
        p = f"((l_orderkey * {a} + {b}) % {_P}) % {BLOOM_M}"
        return F.expr(
            f"bloom[CAST(({p}) / 64 AS INT)]"
            f" & shiftleft(CAST(1 AS BIGINT), CAST(({p}) % 64 AS INT)) != 0"
        )

    # Audit side: the staged per-key (l_orderkey, cnt, is_match) table
    # shared with x18 — bloom_pass is a function of l_orderkey alone, so
    # every counter is a cnt-weighted sum over DISTINCT keys; the old
    # per-row audit join (lineitem ⋈ truth) is paid once per corpus at
    # staging, map-combined to key granularity. The audit itself remains
    # a test-scale diagnostic — production keeps only the bloom_pass
    # filter, which is map-side end-to-end.
    tagged = _staged_key_audit(spark, sf_dir)
    probe = tagged.crossJoin(F.broadcast(bitmap)).withColumn(
        "bloom_pass",
        reduce(lambda x, y: x & y, [_probe_bit(a, b) for a, b in BLOOM_AB]),
    )
    zero = F.lit(0).cast("long")
    return probe.agg(
        F.sum("cnt").cast("long").alias("n_probe_rows"),
        F.sum(F.when(F.col("bloom_pass"), F.col("cnt")).otherwise(zero))
        .cast("long")
        .alias("n_bloom_pass"),
        F.sum(F.when(F.col("is_match"), F.col("cnt")).otherwise(zero))
        .cast("long")
        .alias("n_true_match"),
        F.sum(
            F.when(F.col("bloom_pass") & ~F.col("is_match"), F.col("cnt")).otherwise(
                zero
            )
        )
        .cast("long")
        .alias("n_false_pos"),
        F.sum(
            F.when(~F.col("bloom_pass") & F.col("is_match"), F.col("cnt")).otherwise(
                zero
            )
        )
        .cast("long")
        .alias("n_false_neg"),
    )


ORACLE_X07 = f"""
WITH okeys AS (
  SELECT o_orderkey
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'AUTOMOBILE'
),
bits AS (
  SELECT DISTINCT p FROM (
    {" UNION ALL ".join(f"SELECT {_bloom_pos_sql('o_orderkey', a, b)} AS p FROM okeys" for a, b in BLOOM_AB)}
  )
),
truth AS (SELECT DISTINCT o_orderkey FROM okeys),
probe AS (
  SELECT l.l_orderkey,
         ({" AND ".join(f"EXISTS (SELECT 1 FROM bits WHERE p = {_bloom_pos_sql('l.l_orderkey', a, b)})" for a, b in BLOOM_AB)})
           AS bloom_pass,
         (t.o_orderkey IS NOT NULL) AS is_match
  FROM lineitem l LEFT JOIN truth t ON l.l_orderkey = t.o_orderkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probe_rows,
       CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
       CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match,
       CAST(SUM(CASE WHEN bloom_pass AND NOT is_match THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos,
       CAST(SUM(CASE WHEN NOT bloom_pass AND is_match THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_neg
FROM probe
"""


# ---------------------------------------------------------------------------
# q26 — LATERAL correlated subquery (top-2 orders per BUILDING customer):
# the ANSI lateral-join surface; the ORACLE keeps the verbatim LATERAL text
# (DuckDB executes it natively). The engine no longer runs the same text:
# measured (r11 optimization), Catalyst's decorrelation produced THREE
# exchanges over orders — a per-custkey window for rk, then a GLOBAL
# range-sort materializing the lateral's inner ORDER BY, then a second
# per-custkey window for the LIMIT — with the BUILDING filter applied only
# at the final join. The equivalent direct form prunes orders with a
# broadcast semi-join on BUILDING custkeys FIRST, then one per-custkey
# window whose rk<=2 filter Spark executes as WindowGroupLimit (partial
# per-group top-k BEFORE the shuffle): one exchange, no global sort, and
# the fact rows that cross the network are bounded by 2 per customer.
# ---------------------------------------------------------------------------
SQL_Q26 = """
SELECT c.c_custkey, o.o_orderkey, o.price, o.rk
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice AS price,
         ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) o
WHERE c.c_mktsegment = 'BUILDING'
"""


def q26_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    bld = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    top = (
        o.join(bld, o.o_custkey == bld.c_custkey, "left_semi")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
    )
    # c_custkey == o_custkey on every surviving row (join equality); the
    # rk cast pins DuckDB's BIGINT ROW_NUMBER contract.
    return top.select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("rk").cast("long").alias("rk"),
    )


ORACLE_Q26 = SQL_Q26.replace("o.rk", "CAST(o.rk AS BIGINT) AS rk")


# ---------------------------------------------------------------------------
# x08 — stratified deterministic sampling: per-stratum rates (downsample the
# dominant class, keep the rare one) via the closed-form hash bucket of x03.
# The classic rebalancing stage of a training-data pipeline — and because
# the bucket is a pure function of the row key, the sample is identical on
# any engine, partitioning, or cluster size (no rand(), no seed plumbing).
# Map-side filter; the only shuffle is the final per-stratum count.
# ---------------------------------------------------------------------------
_X08_MIX = 2_654_435_761  # Knuth multiplicative mix (public constant)
X08_RATES = {"AUTOMOBILE": 80, "BUILDING": 40, "MACHINERY": 20, "FURNITURE": 10, "HOUSEHOLD": 5}


def x08_stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    bucket = (F.col("c_custkey") * _X08_MIX % 1_000_003) % 100
    rate = None
    for seg, pct in X08_RATES.items():
        cond = F.when(F.col("c_mktsegment") == seg, F.lit(pct))
        rate = cond if rate is None else rate.when(F.col("c_mktsegment") == seg, F.lit(pct))
    sampled = cust.withColumn("rate_pct", rate.otherwise(F.lit(0))).filter(
        bucket < F.col("rate_pct")
    )
    return (
        sampled.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2)
            .alias("sampled_balance"),
        )
    )


def _oracle_x08() -> str:
    rate_case = " ".join(f"WHEN '{seg}' THEN {pct}" for seg, pct in X08_RATES.items())
    return f"""
SELECT c_mktsegment,
       COUNT(*) AS n_sampled,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sampled_balance
FROM customer
WHERE (c_custkey * {_X08_MIX} % 1000003) % 100
      < (CASE c_mktsegment {rate_case} ELSE 0 END)
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# q27 — UNPIVOT/melt: wide per-nation metrics back to long (metric, value)
# rows — the inverse of q13's pivot, used to feed generic metric sinks.
# Spark side uses the DataFrame unpivot (melt) operator; the oracle states
# the same relation as a UNION ALL (the portable ANSI form), so the test
# pins Spark's unpivot semantics against first principles.
# ---------------------------------------------------------------------------
def q27_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = (
        table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2)
            .alias("total_balance"),
            F.max("c_acctbal").alias("max_balance"),
        )
    )
    return wide.unpivot(
        "c_mktsegment",
        ["n_customers", "total_balance", "max_balance"],
        "metric",
        "value",
    )


ORACLE_Q27 = """
WITH wide AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS DOUBLE) AS n_customers,
         ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_balance,
         MAX(c_acctbal) AS max_balance
  FROM customer GROUP BY c_mktsegment
)
SELECT c_mktsegment, 'n_customers' AS metric, n_customers AS value FROM wide
UNION ALL
SELECT c_mktsegment, 'total_balance' AS metric, total_balance AS value FROM wide
UNION ALL
SELECT c_mktsegment, 'max_balance' AS metric, max_balance AS value FROM wide
"""


# ---------------------------------------------------------------------------
# q28 — bilateral trade flows (TPC-H Q7 shape): revenue shipped between
# supplier-nation and customer-nation pairs, by year. The two biggest
# tables (lineitem, orders) meet in ONE shuffled equi-join on l_orderkey;
# supplier/customer attach hint-free (they scale with SF; AQE broadcasts
# while they fit) and nation (25 rows) by hint. The nation-pair filter prunes before the
# aggregate, so the final shuffle carries |pairs × years| rows.
# ---------------------------------------------------------------------------
Q28_PAIRS = (("NATION_3", "NATION_7"), ("NATION_7", "NATION_3"))


def q28_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("volume"),
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("l_year")
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    flows = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(nat.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sk"),
        )
        .join(
            F.broadcast(nat.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("ck"),
        )
    )
    pair_filter = reduce(
        lambda a, b: a | b,
        [
            (F.col("supp_nation") == s) & (F.col("cust_nation") == c)
            for s, c in Q28_PAIRS
        ],
    )
    return (
        flows.filter(pair_filter)
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume").cast("double"), 2).alias("revenue"))
    )


def _oracle_q28() -> str:
    pairs = " OR ".join(
        f"(sn.n_name = '{s}' AND cn.n_name = '{c}')" for s, c in Q28_PAIRS
    )
    return f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(o.o_orderdate) AS l_year,
       ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
                  AS DOUBLE), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE {pairs}
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# q29 — market share (TPC-H Q8 shape): one region's share of total revenue
# attributable to one supplier nation, per year. The share is a
# conditional-sum over the same aggregate rows — no second scan, no
# self-join: sum(when)/sum() inside one groupBy.
# ---------------------------------------------------------------------------
Q29_REGION = "ASIA"
Q29_NATION = "NATION_5"


def q29_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("volume"),
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    # customer-side region restriction (the market being measured)
    cust_region = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .filter(F.col("r_name") == Q29_REGION)
        .select("c_custkey")
    )
    supp_nation = supp.join(
        F.broadcast(nat.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_name"))),
        supp.s_nationkey == F.col("snk"),
    ).select("s_suppkey", "supp_name")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_region, orders.o_custkey == cust_region.c_custkey)
        .join(supp_nation, li.l_suppkey == supp_nation.s_suppkey)
    )
    # round-10 conversion (caught by tests/test_oracle_round_lint.py —
    # the hand audit missed it): the share was a decimal/decimal
    # quotient rounded at the derived scale inside the cast, the
    # e32/t59 boundary-digit class. Both sums are exact decimals; the
    # share publishes as e4-unit integers under truncating DIV.
    agg = joined.groupBy("o_year").agg(
        F.sum(
            F.when(F.col("supp_name") == Q29_NATION, F.col("volume")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        ).alias("nat_vol"),
        F.sum("volume").alias("tot_vol"),
    )
    return agg.select(
        "o_year",
        (
            F.expr(
                "CAST(nat_vol * 10000 AS DECIMAL(38,0)) * 1000000"
                " DIV CAST(tot_vol * 10000 AS DECIMAL(38,0))"
            )
            / 1_000_000.0
        ).alias("mkt_share"),
        F.round(F.col("tot_vol").cast("double"), 2).alias("total_volume"),
    )


ORACLE_Q29 = f"""
WITH agg AS (
  SELECT year(o.o_orderdate) AS o_year,
         SUM(CASE WHEN sn.n_name = '{Q29_NATION}'
                  THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS nat_vol,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
           AS tot_vol
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  WHERE r.r_name = '{Q29_REGION}'
  GROUP BY 1
)
SELECT o_year,
       (CAST(nat_vol * 10000 AS HUGEINT) * 1000000
        // CAST(tot_vol * 10000 AS HUGEINT)) / 1000000.0 AS mkt_share,
       ROUND(CAST(tot_vol AS DOUBLE), 2) AS total_volume
FROM agg
"""


# ---------------------------------------------------------------------------
# q30 — large-volume customers (TPC-H Q18 shape): orders whose total
# quantity exceeds a threshold, with customer attribution. The HAVING
# aggregate reduces lineitem to qualifying orderkeys FIRST (one shuffle on
# l_orderkey, map-side partial sums); the qualifying set is tiny, so the
# joins back to orders and customer stay hint-free (AQE broadcasts the
# qualifying set at runtime — size-checked, unlike a hint) — the classic
# "aggregate-then-join" ordering that keeps the big table from being
# joined at full width.
# ---------------------------------------------------------------------------
Q30_MIN_QTY = 150


def q30_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > Q30_MIN_QTY)
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_totalprice").alias("o_totalprice"),
            "total_qty",
        )
    )


ORACLE_Q30 = f"""
WITH big AS (
  SELECT l_orderkey,
         ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) > {Q30_MIN_QTY}
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       o.o_totalprice AS o_totalprice,
       b.total_qty
FROM orders o
JOIN big b ON o.o_orderkey = b.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


# ---------------------------------------------------------------------------
# q31 — supplier diversity per part class (TPC-H Q16 shape): how many
# distinct suppliers serve each (p_brand, p_type, p_size) class, excluding
# deadbeat suppliers. The supplier-part relationship derives from lineitem
# (the fact table is the only place it exists in this schema): distinct
# (partkey, suppkey) pairs reduce the fact FIRST — map-side-combinable —
# then the part join attaches attributes and the exclusion is an
# anti-join of a provably-small set (hint-free; AQE broadcasts it).
# ---------------------------------------------------------------------------
def q31_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 12 (guide §2.3/§2.4): the old form DISTINCT'ed all
    # (l_partkey, l_suppkey) pairs — a full-fact exchange — before the
    # part join, then shuffled again for the aggregate.  But
    # COUNT(DISTINCT l_suppkey) is duplicate-insensitive, so the pair
    # distinct was a redundant exchange; and the selective p_size filter
    # (8 of 50 sizes) can prune the fact BEFORE anything shuffles.  New
    # shape: fact → broadcast part join (filtered, map-side) → broadcast
    # anti join → single distinct-aggregate.  Exchange now carries only
    # size-filtered (brand, type, size, suppkey) partial-distinct rows.
    # Output identical (hash-proven at 3 SFs); oracle untouched.
    pairs = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = (
        table(spark, sf_dir, "part")
        .select("p_partkey", "p_brand", "p_type", "p_size")
        .filter(F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    return (
        pairs.join(part, pairs.l_partkey == part.p_partkey)
        .join(bad, pairs.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


ORACLE_Q31 = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ok AS (
  SELECT p.l_partkey, p.l_suppkey FROM pairs p
  WHERE NOT EXISTS (SELECT 1 FROM supplier s
                    WHERE s.s_suppkey = p.l_suppkey AND s.s_acctbal < 0)
)
SELECT pt.p_brand, pt.p_type, pt.p_size,
       CAST(COUNT(DISTINCT ok.l_suppkey) AS BIGINT) AS supplier_cnt
FROM ok JOIN part pt ON ok.l_partkey = pt.p_partkey
WHERE pt.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# q32 — top supplier(s) by revenue (TPC-H Q15 shape): per-supplier revenue
# for one quarter, then the supplier(s) achieving the global maximum.
# The max is a scalar derived from the same |suppliers|-row aggregate —
# a cross-join of one broadcast row, NOT a re-scan of lineitem; ties are
# all returned (Q15 semantics), so no arbitrary tiebreak is needed.
# ---------------------------------------------------------------------------
Q32_START, Q32_END = "1995-01-01", "1995-04-01"


def q32_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q32_START) & (F.col("l_shipdate") < Q32_END)
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double"),
            2,
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.mx)
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


ORACLE_Q32 = f"""
WITH rev AS (
  SELECT l_suppkey,
         ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q32_START}' AND l_shipdate < TIMESTAMP '{Q32_END}'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


QUERIES = {
    "q25_window_frames": q25_window_frames,
    "x07_bloom_join_pruning": x07_bloom_join_pruning,
    "q26_lateral_topn": q26_lateral_topn,
    "x08_stratified_hash_sample": x08_stratified_hash_sample,
    "q27_unpivot_metrics": q27_unpivot_metrics,
    "q28_trade_flows": q28_trade_flows,
    "q29_market_share": q29_market_share,
    "q30_large_volume_customers": q30_large_volume_customers,
    "q31_supplier_diversity": q31_supplier_diversity,
    "q32_top_supplier": q32_top_supplier,
}

ORACLES = {
    "q25_window_frames": ORACLE_Q25,
    "x07_bloom_join_pruning": ORACLE_X07,
    "q26_lateral_topn": ORACLE_Q26,
    "x08_stratified_hash_sample": _oracle_x08(),
    "q27_unpivot_metrics": ORACLE_Q27,
    "q28_trade_flows": _oracle_q28(),
    "q29_market_share": ORACLE_Q29,
    "q30_large_volume_customers": ORACLE_Q30,
    "q31_supplier_diversity": ORACLE_Q31,
    "q32_top_supplier": ORACLE_Q32,
}


# ---------------------------------------------------------------------------
# x18 — Bloom-filter FPR sweep: x07's runtime filter measured at
# M ∈ {2^12, 2^15, 2^18} bits — the memory/selectivity tuning curve read
# before sizing a runtime filter, completing the knob-pricing family
# (x12 prices HLL lgK, x15 percentile accuracy, t49 LSH b×r, v16
# n_probe). Each tier builds the REAL packed bitmap (bit_or-folded
# 64-bit words, one broadcast row — 2^18 bits is 32 KB however large the
# build side), probes map-side, and reports measured false positives
# against the audit join; the no-false-negative invariant rides along as
# a verdict per tier.
#
# Scale: identical to x07 per tier — build side reduces to ≤ M/64 words,
# probe never shuffles; the audit join exists only to grade the filter.
# The ORACLE expresses bloom membership as position-set semi-joins
# (mathematically identical to the bitmap, per hash function), so both
# engines agree on every false positive.
# ---------------------------------------------------------------------------
X18_SIZES = (1 << 12, 1 << 15, 1 << 18)


def x18_bloom_fpr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    okeys = _audit_okeys(spark, sf_dir)
    n_build = okeys.agg(F.countDistinct("o_orderkey").alias("n_build_keys"))
    # The audit-tagged probe is the staged per-key table SHARED with x07
    # (the t02 staging discipline, now at key granularity): all three
    # tiers read the same (l_orderkey, cnt, is_match) rows, so the truth
    # join is paid once per corpus and every tier's counters are
    # cnt-weighted sums over distinct keys.
    tagged = _staged_key_audit(spark, sf_dir)

    # ONE build pass for ALL tiers: each key explodes to 9 (tier, word,
    # mask) triples; one (tier, word) bit_or aggregate; the three packed
    # bitmaps pivot into a single broadcast row. (Round 6: the per-tier
    # form scanned the build side three times for the same result.)
    triples = okeys.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("mb"),
                        ((((F.col("o_orderkey") * a + b) % _P) % m) / 64)
                        .cast("long")
                        .alias("w"),
                        F.expr(
                            f"shiftleft(CAST(1 AS BIGINT),"
                            f" CAST((((o_orderkey * {a} + {b}) % {_P}) % {m})"
                            " % 64 AS INT))"
                        ).alias("mask"),
                    )
                    for m in X18_SIZES
                    for a, b in BLOOM_AB
                ]
            )
        ).alias("t")
    ).select("t.mb", "t.w", "t.mask")
    per_word = triples.groupBy("mb", "w").agg(F.expr("bit_or(mask)").alias("bits"))
    maps = per_word.groupBy("mb").agg(
        F.map_from_arrays(F.collect_list("w"), F.collect_list("bits")).alias("bm")
    )
    bitmaps = maps.agg(
        *[
            F.first(F.when(F.col("mb") == m, F.col("bm")), ignorenulls=True).alias(
                f"bm_{m}"
            )
            for m in X18_SIZES
        ]
    ).select(
        *[
            F.expr(
                f"transform(sequence(0, {m // 64 - 1}),"
                f" w -> coalesce(element_at(bm_{m}, CAST(w AS BIGINT)),"
                " CAST(0 AS BIGINT)))"
            ).alias(f"bloom_{m}")
            for m in X18_SIZES
        ]
    )

    def probe_pass(m_bits: int) -> "F.Column":
        def bit(a: int, b: int) -> "F.Column":
            p = f"((l_orderkey * {a} + {b}) % {_P}) % {m_bits}"
            return F.expr(
                f"bloom_{m_bits}[CAST(({p}) / 64 AS INT)]"
                f" & shiftleft(CAST(1 AS BIGINT), CAST(({p}) % 64 AS INT)) != 0"
            )

        return reduce(lambda x, y: x & y, [bit(a, b) for a, b in BLOOM_AB])

    # ONE probe pass: all three tiers' pass bits evaluate per distinct
    # key; one aggregate carries every tier's cnt-weighted counters.
    probe = tagged.crossJoin(F.broadcast(bitmaps)).select(
        "is_match", "cnt", *[probe_pass(m).alias(f"pass_{m}") for m in X18_SIZES]
    )
    zero = F.lit(0).cast("long")
    counters = probe.agg(
        F.sum("cnt").cast("long").alias("n_probe_rows"),
        F.sum(F.when(F.col("is_match"), F.col("cnt")).otherwise(zero))
        .cast("long")
        .alias("n_true_match"),
        *[
            F.sum(
                F.when(F.col(f"pass_{m}") & ~F.col("is_match"), F.col("cnt")).otherwise(
                    zero
                )
            )
            .cast("long")
            .alias(f"fp_{m}")
            for m in X18_SIZES
        ],
        *[
            F.sum(
                F.when(~F.col(f"pass_{m}") & F.col("is_match"), F.col("cnt")).otherwise(
                    zero
                )
            )
            .cast("long")
            .alias(f"fn_{m}")
            for m in X18_SIZES
        ],
    ).crossJoin(F.broadcast(n_build))
    tiers = counters.select(
        "n_build_keys",
        "n_probe_rows",
        "n_true_match",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).cast("long").alias("m_bits"),
                        F.col(f"fp_{m}").alias("n_false_pos"),
                        F.col(f"fn_{m}").alias("n_false_neg"),
                    )
                    for m in X18_SIZES
                ]
            )
        ).alias("t"),
    )
    return tiers.select(
        F.col("t.m_bits").alias("m_bits"),
        F.col("n_build_keys").cast("long").alias("n_build_keys"),
        "n_probe_rows",
        F.col("t.n_false_pos").alias("n_false_pos"),
        # round-10 conversion: exact int/int micros (ROUND was t09-class).
        (
            F.expr(
                "CAST(t.n_false_pos AS DECIMAL(38,0)) * 1000000"
                " DIV (n_probe_rows - n_true_match)"
            )
            / 1_000_000.0
        ).alias("fp_rate"),
        (F.col("t.n_false_neg") == 0).alias("zero_false_neg"),
    )


def _oracle_x18() -> str:
    tiers = []
    for m_bits in X18_SIZES:
        # ONE shared position set per tier — a Bloom filter has a single
        # bit array, so a probe bit may be satisfied by a bit any hash
        # function set (cross-hash collisions are part of the FPR).
        union = "\n    UNION\n    ".join(
            f"SELECT ((o_orderkey * {a} + {b}) % {_P}) % {m_bits} AS p FROM okeys"
            for a, b in BLOOM_AB
        )
        pos_ctes = f"""pos_{m_bits} AS (
    {union}
)"""
        passes = " AND ".join(
            f"((l_orderkey * {a} + {b}) % {_P}) % {m_bits} IN"
            f" (SELECT p FROM pos_{m_bits})"
            for a, b in BLOOM_AB
        )
        tiers.append(
            (
                pos_ctes,
                f"""
SELECT {m_bits} AS m_bits,
       (SELECT COUNT(DISTINCT o_orderkey) FROM okeys) AS n_build_keys,
       CAST(COUNT(*) AS BIGINT) AS n_probe_rows,
       CAST(SUM(CASE WHEN {passes}
                      AND NOT is_match THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos,
       (CAST(SUM(CASE WHEN {passes}
                       AND NOT is_match THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
             // SUM(CASE WHEN is_match THEN 0 ELSE 1 END)) / 1000000.0 AS fp_rate,
       SUM(CASE WHEN NOT ({passes}) AND is_match THEN 1 ELSE 0 END) = 0
         AS zero_false_neg
FROM tagged""",
            )
        )
    all_pos = ",\n".join(t[0] for t in tiers)
    body = "\nUNION ALL\n".join(t[1] for t in tiers)
    return f"""
WITH cust AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
okeys AS (
  SELECT o_orderkey FROM orders JOIN cust ON o_custkey = c_custkey
),
tagged AS (
  SELECT l.l_orderkey,
         EXISTS (SELECT 1 FROM okeys o WHERE o.o_orderkey = l.l_orderkey)
           AS is_match
  FROM lineitem l
),
{all_pos}
{body}
"""


QUERIES["x18_bloom_fpr_sweep"] = x18_bloom_fpr_sweep
ORACLES["x18_bloom_fpr_sweep"] = _oracle_x18()


# ---------------------------------------------------------------------------
# x20 — power-of-2 DDSketch (relative-error quantile sketch): bucket
# every value by its integer bit length (bucket b covers [2^b, 2^(b+1)),
# i.e. gamma = 2), giving a MERGEABLE <=64-counter histogram whose
# quantile estimates carry a guaranteed 2x relative-error bound — the
# sketch shape DataDog's DDSketch/HDRHistogram use, with the log()
# replaced by the repo's exact floor(log2 n) = length(bin(n)) - 1
# identity (no libm in checked columns). The exact-percentile arm
# exists only to produce the within-bound verdict.
#
# Scale: the sketch is ONE fixed-width aggregate (<=64 buckets, map-side
# combined — the shuffle carries counters, never values) and merges by
# counter addition across partitions/days; estimates read the collected
# 64-row histogram. The verdict arm is the only part that wouldn't run
# at 100 TB (exact percentile buffers values) — x15's selection replaces
# it there.
# ---------------------------------------------------------------------------
X20_QS = (0.5, 0.95, 0.99)


def x20_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("cents")
    )
    bucket = (F.length(F.bin(F.col("cents"))) - 1).alias("bucket")
    hist = li.groupBy(bucket).agg(F.count(F.lit(1)).alias("c"))
    cum = hist.withColumn(
        "cum", F.sum("c").over(Window.orderBy("bucket").rowsBetween(
            Window.unboundedPreceding, 0
        ))
    )
    # Round-10: the exact arm rides the STAGED histogram-pruned
    # selection (functions/quantiles.py, memoized per corpus) instead of
    # Spark's percentile() buffer — the buffer collected every cents
    # value into ONE aggregation task (measured 2.3-2.9 s of x20's
    # 3.1 s at sf0.1, and structurally job-fatal at 100 TB; the old
    # docstring promised this exact swap "at 100 TB" — it is now simply
    # the plan). Selection interpolates with the same lo+frac*(hi-lo)
    # expression both engines use, so exact_cents stays bit-identical
    # to quantile_cont (the x15/q14 evidence).
    from ..functions.quantiles import staged_exact_percentiles

    n, exact = staged_exact_percentiles(
        spark,
        sf_dir,
        "lineitem",
        "cents",
        X20_QS,
        expr="CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)",
    )
    targets = spark.createDataFrame(
        [(float(q), float(exact[q]), n) for q in X20_QS],
        "q double, exact_cents double, n long",
    )
    # Smallest bucket whose cumulative count reaches ceil(q * n).
    hit = (
        cum.crossJoin(F.broadcast(targets))
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("q", "exact_cents")
        .agg(F.min("bucket").alias("bucket"))
    )
    # pyspark's shiftleft() only takes a literal bit count; the SQL form
    # accepts a column.
    lo = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))")
    hi = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT) + 1)")
    est = (lo + hi) / F.lit(2.0)
    return hit.select(
        "q",
        F.col("bucket").cast("int").alias("bucket"),
        lo.alias("lo_cents"),
        hi.alias("hi_cents"),
        est.alias("est_cents"),
        # round-10 conversion: the interpolated percentile double is
        # bit-identical across engines (the q14 evidence) — publish raw;
        # the ROUND was the only procedure left to differ.
        F.col("exact_cents").alias("exact_cents"),
        ((est >= F.col("exact_cents") / 2) & (est <= F.col("exact_cents") * 2)).alias(
            "within_2x"
        ),
    )


def _oracle_x20() -> str:
    exacts = ", ".join(
        f"quantile_cont(cents, {q}) AS exact_{i}" for i, q in enumerate(X20_QS)
    )
    target_rows = " UNION ALL ".join(
        f"SELECT {q} AS q, exact_{i} AS exact_cents, n FROM total"
        for i, q in enumerate(X20_QS)
    )
    return f"""
WITH li AS (
  SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents FROM lineitem
),
hist AS (
  SELECT length(bin(cents)) - 1 AS bucket, COUNT(*) AS c
  FROM li GROUP BY 1
),
cum AS (
  SELECT bucket, c,
         SUM(c) OVER (ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
total AS (SELECT COUNT(*) AS n, {exacts} FROM li),
targets AS ({target_rows}),
hit AS (
  SELECT q, exact_cents, MIN(bucket) AS bucket
  FROM cum CROSS JOIN targets
  WHERE cum >= CEIL(q * n)
  GROUP BY q, exact_cents
)
SELECT q,
       CAST(bucket AS INTEGER) AS bucket,
       CAST(1 AS BIGINT) << bucket AS lo_cents,
       CAST(1 AS BIGINT) << (bucket + 1) AS hi_cents,
       ((CAST(1 AS BIGINT) << bucket) + (CAST(1 AS BIGINT) << (bucket + 1))) / 2.0
         AS est_cents,
       exact_cents AS exact_cents,
       ((CAST(1 AS BIGINT) << bucket) + (CAST(1 AS BIGINT) << (bucket + 1))) / 2.0
         >= exact_cents / 2
       AND ((CAST(1 AS BIGINT) << bucket) + (CAST(1 AS BIGINT) << (bucket + 1))) / 2.0
         <= exact_cents * 2 AS within_2x
FROM hit
"""


QUERIES["x20_ddsketch_quantiles"] = x20_ddsketch_quantiles
ORACLES["x20_ddsketch_quantiles"] = _oracle_x20()


# ---------------------------------------------------------------------------
# x21 — Z-ORDER layout quality: interleave the bits of two query
# dimensions (user bucket x hour bucket) into a Morton code, split the
# code range into 64 "files", and measure each file's min/max span in
# BOTH dimensions — against the same files under a plain lexicographic
# (d1-then-d2) sort. This is the data-layout decision behind
# Delta/Iceberg OPTIMIZE ZORDER: balanced per-file spans in every
# dimension mean min/max file statistics can prune scans for predicates
# on EITHER column, where a linear sort prunes only its leading column
# (its files span the full d2 range — visible in this query's output).
#
# Scale: the Morton code is 20 integer bit-ops, map-side; the per-file
# aggregate carries 128 rows. At write time the same code is the
# repartitionByRange key — this query prices the layout before paying
# the rewrite.
# ---------------------------------------------------------------------------
X21_BITS = 10  # 10 bits per dimension -> 20-bit Morton code
X21_FILE_SHIFT = 14  # top 6 bits -> 64 files


def _morton_terms(d1: str, d2: str) -> str:
    """SQL for the bit-interleaved Morton code (identical Spark/DuckDB:
    integer shifts, masks, adds)."""
    return " + ".join(
        f"((({d1} >> {i}) & 1) * {1 << (2 * i + 1)})"
        f" + ((({d2} >> {i}) & 1) * {1 << (2 * i)})"
        for i in range(X21_BITS)
    )


def x21_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        (F.col("user_id") % (1 << X21_BITS)).alias("d1"),
        (
            (F.unix_millis("ts") / F.lit(3_600_000)).cast("bigint")
            % (1 << X21_BITS)
        ).alias("d2"),
    )
    # Column >> int isn't overloaded in the Python API — use the SQL form.
    keyed = ev.select(
        "d1",
        "d2",
        F.expr(
            f"shiftright(CAST(({_morton_terms('d1', 'd2')}) AS BIGINT),"
            f" {X21_FILE_SHIFT})"
        ).alias("z_file"),
        F.expr(
            f"shiftright(CAST(d1 * {1 << X21_BITS} + d2 AS BIGINT),"
            f" {X21_FILE_SHIFT})"
        ).alias("lin_file"),
    )
    def spans(file_col: str, layout: str) -> DataFrame:
        return keyed.groupBy(F.col(file_col).alias("file_id")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("d1").alias("d1_min"),
            F.max("d1").alias("d1_max"),
            F.min("d2").alias("d2_min"),
            F.max("d2").alias("d2_max"),
        ).select(F.lit(layout).alias("layout"), "*")
    return spans("z_file", "zorder").unionByName(spans("lin_file", "linear")).select(
        "layout",
        F.col("file_id").cast("long").alias("file_id"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("d1_min").cast("long").alias("d1_min"),
        F.col("d1_max").cast("long").alias("d1_max"),
        F.col("d2_min").cast("long").alias("d2_min"),
        F.col("d2_max").cast("long").alias("d2_max"),
        # per-file pruning width: the span a min/max stat must cover
        (F.col("d1_max") - F.col("d1_min") + F.col("d2_max") - F.col("d2_min"))
        .cast("long")
        .alias("span_sum"),
    )


ORACLE_X21 = f"""
WITH ev AS (
  SELECT user_id % {1 << X21_BITS} AS d1,
         (epoch_ms(ts) // 3600000) % {1 << X21_BITS} AS d2
  FROM events
),
keyed AS (
  SELECT d1, d2,
         ({_morton_terms('d1', 'd2')}) >> {X21_FILE_SHIFT} AS z_file,
         (d1 * {1 << X21_BITS} + d2) >> {X21_FILE_SHIFT} AS lin_file
  FROM ev
),
z AS (
  SELECT 'zorder' AS layout, z_file AS file_id, COUNT(*) AS n_rows,
         MIN(d1) AS d1_min, MAX(d1) AS d1_max,
         MIN(d2) AS d2_min, MAX(d2) AS d2_max
  FROM keyed GROUP BY z_file
),
l AS (
  SELECT 'linear' AS layout, lin_file AS file_id, COUNT(*) AS n_rows,
         MIN(d1) AS d1_min, MAX(d1) AS d1_max,
         MIN(d2) AS d2_min, MAX(d2) AS d2_max
  FROM keyed GROUP BY lin_file
),
unioned AS (SELECT * FROM z UNION ALL SELECT * FROM l)
SELECT layout, CAST(file_id AS BIGINT) AS file_id,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(d1_min AS BIGINT) AS d1_min, CAST(d1_max AS BIGINT) AS d1_max,
       CAST(d2_min AS BIGINT) AS d2_min, CAST(d2_max AS BIGINT) AS d2_max,
       CAST(d1_max - d1_min + d2_max - d2_min AS BIGINT) AS span_sum
FROM unioned
"""


QUERIES["x21_zorder_layout"] = x21_zorder_layout
ORACLES["x21_zorder_layout"] = ORACLE_X21


# ---------------------------------------------------------------------------
# x24 — small-files COMPACTION planner (the OPTIMIZE bin-packing step):
# given a file manifest, coalesce adjacent small files into target-size
# bins — the maintenance job every 100-TB table needs, since streaming
# ingest writes one file per trigger and scan cost degrades with file
# count. The manifest here is deterministic-synthetic: one "file" per
# o_orderdate day, sized by an integer per-row byte estimate (the shape
# a real Delta/Iceberg manifest has: path, partition value, bytes).
#
# Packing rule: files stay in date order (preserves partition locality /
# clustering) and file i goes to bin floor(cum_bytes_before / target) —
# the ideal-splitter greedy, identical to how Spark's own
# maxPartitionBytes coalescing bins splits. A bin can exceed target only
# by the straddling file's tail, and an oversized single file is flagged
# (it needs a SPLIT, not a compaction).
#
# Scale: the manifest aggregate is map-side combinable (one row per
# file); the running-sum window sees ONE ROW PER CALENDAR DAY — bounded
# by wall-clock like e35/t58, never by SF. Per-bin rollup re-aggregates
# the same bounded manifest. At 100 TB the manifest is millions of
# files, still metadata-scale.
# ---------------------------------------------------------------------------
X24_TARGET_BYTES = 262_144  # 256 KiB bins at test scale


def x24_compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        F.datediff(F.to_date("o_orderdate"), F.lit(EPOCH)).alias("day_num"),
        (F.lit(64) + F.length("o_orderpriority") + F.length("o_orderstatus")).alias(
            "row_bytes"
        ),
    )
    manifest = orders.groupBy("day_num").agg(
        F.sum("row_bytes").cast("bigint").alias("file_bytes")
    )
    w = Window.orderBy("day_num").rowsBetween(
        Window.unboundedPreceding, -1
    )
    packed = manifest.withColumn(
        "cum_before", F.coalesce(F.sum("file_bytes").over(w), F.lit(0))
    ).withColumn("bin_id", F.expr(f"cum_before div {X24_TARGET_BYTES}"))
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.min("day_num").cast("long").alias("first_day"),
        F.max("day_num").cast("long").alias("last_day"),
        F.sum("file_bytes").cast("bigint").alias("bin_bytes"),
        # round-10 conversion: exact int/int micros (ROUND was t09-class).
        (
            F.expr(
                "CAST(SUM(file_bytes) AS DECIMAL(38,0)) * 1000000"
                f" DIV {X24_TARGET_BYTES}"
            )
            / 1_000_000.0
        ).alias("fill_ratio"),
        F.max(
            (F.col("file_bytes") > F.lit(X24_TARGET_BYTES)).cast("int")
        ).cast("boolean").alias("has_oversize_file"),
    ).select(
        F.col("bin_id").cast("long").alias("bin_id"),
        "n_files", "first_day", "last_day", "bin_bytes", "fill_ratio",
        "has_oversize_file",
    )


ORACLE_X24 = f"""
WITH manifest AS (
  SELECT date_diff('day', DATE '{EPOCH}', CAST(o_orderdate AS DATE)) AS day_num,
         CAST(SUM(64 + length(o_orderpriority) + length(o_orderstatus)) AS BIGINT)
           AS file_bytes
  FROM orders GROUP BY 1
),
packed AS (
  SELECT day_num, file_bytes,
         COALESCE(SUM(file_bytes) OVER (ORDER BY day_num
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM manifest
)
SELECT CAST(cum_before // {X24_TARGET_BYTES} AS BIGINT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(MIN(day_num) AS BIGINT) AS first_day,
       CAST(MAX(day_num) AS BIGINT) AS last_day,
       CAST(SUM(file_bytes) AS BIGINT) AS bin_bytes,
       (CAST(SUM(file_bytes) AS HUGEINT) * 1000000 // {X24_TARGET_BYTES})
         / 1000000.0 AS fill_ratio,
       MAX(file_bytes > {X24_TARGET_BYTES}) AS has_oversize_file
FROM packed GROUP BY 1
"""


QUERIES["x24_compaction_planner"] = x24_compaction_planner
ORACLES["x24_compaction_planner"] = ORACLE_X24


# ---------------------------------------------------------------------------
# x25 — ANALYZE-style column statistics (the CBO's food): per-column
# row count, null count, EXACT NDV, numeric min/max and mean string
# length for a fixed set of lineitem columns — what
# `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` materializes and
# the optimizer's join-reorder / broadcast decisions read.
#
# Plan shape (r11 optimization, measured): ONE distinct-free pass for
# the row/null/min/max/length stats, plus ONE single-distinct aggregate
# subtree PER COLUMN, combined as 1-row broadcasts and exploded into the
# stats table. The previous form computed all C NDVs in one aggregate,
# which Spark plans via Expand — every fact row replicated ×(C+1)
# through the partial hash aggregate; the single-scan argument is hollow
# for a COLUMNAR source, because C single-column scans read the same
# column bytes the one wide scan read. Measured solo at sf0.1: Expand
# 4.03 s → 0.69 s (the subtrees also schedule concurrently). Each
# per-column subtree is the classic two-phase distinct: map-side dedup
# on the column, NDV-bounded shuffle, count — at 100 TB no row is ever
# replicated and each shuffle carries only that column's distinct
# values. (Also measured: tiering bounded-domain columns onto
# size(collect_set()) forces ObjectHashAggregate — 2× slower than even
# the Expand form at sf0.1.)
#
# Scale: at 100 TB exact NDV is swapped for the per-column KMV sketch —
# SHIPPED as x25b_column_stats_sketch below (bounded state, one-pass,
# error-bound verdict vs this query's exact NDVs) — the exact arm stays
# as the oracle-checkable ground truth, like x20's exact-percentile arm.
# ---------------------------------------------------------------------------
X25_NUM_COLS = ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                "l_quantity", "l_discount")
X25_STR_COLS = ("l_returnflag", "l_linestatus")


def _staged_exact_ndvs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 8-row (col_name, ndv) exact-NDV table, staged once per corpus
    and SHARED by x25 (its ndv/selectivity columns) and x25b (its
    ground-truth arm) — both queries audit the same statistics, and a
    production ANALYZE materializes its column stats exactly once. Each
    column's NDV is its own two-phase single-distinct subtree (map-side
    dedup, NDV-bounded shuffle, count): no Expand, no row replication."""
    from ..operators.dedup import _stage_cached

    def build() -> DataFrame:
        li = table(spark, sf_dir, "lineitem").select(
            *X25_NUM_COLS, *X25_STR_COLS
        )
        return reduce(
            DataFrame.unionByName,
            [
                li.select(c)
                .agg(F.count_distinct(F.col(c)).alias("ndv"))
                .select(
                    F.lit(c).alias("col_name"),
                    F.col("ndv").cast("long").alias("ndv"),
                )
                for c in X25_NUM_COLS + X25_STR_COLS
            ],
        )

    return _stage_cached("x25_ndv", sf_dir, build)


def x25_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        *X25_NUM_COLS, *X25_STR_COLS
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in X25_NUM_COLS + X25_STR_COLS:
        aggs.append(F.count(c).alias(f"{c}__nn"))
    for c in X25_NUM_COLS:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"{c}__min"),
            F.max(F.col(c).cast("double")).alias(f"{c}__max"),
        ]
    for c in X25_STR_COLS:
        aggs += [F.sum(F.length(c)).alias(f"{c}__len")]
    row = li.agg(*aggs)  # distinct-free single pass — no Expand

    def stat_struct(c: str) -> "F.Column":
        is_num = c in X25_NUM_COLS
        return F.struct(
            F.lit(c).alias("col_name"),
            F.col("n_rows").cast("long").alias("n_rows"),
            (F.col("n_rows") - F.col(f"{c}__nn")).cast("long").alias("n_nulls"),
            (F.col(f"{c}__min") if is_num else F.lit(None).cast("double")).alias(
                "min_val"
            ),
            (F.col(f"{c}__max") if is_num else F.lit(None).cast("double")).alias(
                "max_val"
            ),
            (
                # round-10 conversion: exact int/int micros (ROUND was
                # t09-class); decimal-widened against 100 TB counts.
                F.expr(
                    f"CAST({c}__len AS DECIMAL(38,0)) * 1000000 DIV {c}__nn"
                )
                / 1_000_000.0
                if not is_num
                else F.lit(None).cast("double")
            ).alias("avg_len"),
        )

    stats = row.select(
        F.explode(
            F.array(*[stat_struct(c) for c in X25_NUM_COLS + X25_STR_COLS])
        ).alias("s")
    ).select("s.*")
    # the staged per-corpus exact-NDV table (shared with x25b), attached
    # with ONE broadcast join (a crossJoin-per-column chain was 4x the
    # driver-side analysis cost)
    ndvs = _staged_exact_ndvs(spark, sf_dir)
    return stats.join(F.broadcast(ndvs), "col_name").select(
        "col_name",
        "n_rows",
        "n_nulls",
        "ndv",
        "min_val",
        "max_val",
        "avg_len",
        (
            F.expr("CAST(ndv AS DECIMAL(38,0)) * 1000000 DIV n_rows")
            / 1_000_000.0
        ).alias("selectivity"),
    )


def _oracle_x25() -> str:
    branches = []
    for c in X25_NUM_COLS + X25_STR_COLS:
        is_num = c in X25_NUM_COLS
        branches.append(f"""
  SELECT '{c}' AS col_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
         CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv,
         {f'CAST(MIN({c}) AS DOUBLE)' if is_num else 'CAST(NULL AS DOUBLE)'} AS min_val,
         {f'CAST(MAX({c}) AS DOUBLE)' if is_num else 'CAST(NULL AS DOUBLE)'} AS max_val,
         {f'(CAST(SUM(length({c})) AS HUGEINT) * 1000000 // COUNT({c})) / 1000000.0' if not is_num else 'CAST(NULL AS DOUBLE)'}
           AS avg_len,
         (CAST(COUNT(DISTINCT {c}) AS HUGEINT) * 1000000 // COUNT(*)) / 1000000.0
           AS selectivity
  FROM lineitem""")
    return " UNION ALL ".join(branches)


QUERIES["x25_column_stats"] = x25_column_stats
ORACLES["x25_column_stats"] = _oracle_x25()


# ---------------------------------------------------------------------------
# x25b — the 100 TB form of x25's NDV column: per-column KMV
# (k-minimum-values) distinct sketches, the exact swap x25's docstring
# names. x25's exact multi-NDV is an Expand plan whose shuffle carries
# every distinct (column, value) group — the honest exact form at sf0.1
# but NDV-proportional state at 100 TB. KMV state is K hashes per
# column, period.
#
# Plan: ONE scan explodes each row into (col_tag, int_key) pairs →
# distinct (tag, hash) [one shuffle, map-side combine] → bottom-K per
# tag in TWO window phases: first within (tag, h % SALT) salted groups
# (each sorts ~NDV/SALT rows — no single-reducer-per-tag skew), then
# over the ≤ SALT·K survivors per tag. Estimate = (K−1)·P / h_(K) with
# the small-n exact branch (flags have NDV 2–3 — the sketch holds the
# whole hash set).
#
# Keys are integers so the x13 affine hash stays cross-engine exact:
# native integer columns pass through; doubles that are integral by
# construction (quantity, discount·100) go through ROUND-then-CAST
# (CAST alone truncates in Spark and rounds in DuckDB — the 0.07·100 =
# 7.000…001 class); 1-char flag strings key on ascii().
#
# Verdict column: the estimate's relative error vs the exact NDV (the
# oracle-checkable arm, computed with x25's one-scan Expand) within
# 2/√(K−1) ≈ 25% — 2σ of the KMV estimator. All columns, including the
# estimate itself, are hash-compared: both engines compute identical
# hashes, so the sketch is bit-deterministic, not just bounded.
# ---------------------------------------------------------------------------
from ..functions.hashing import (  # noqa: E402 — section-local import
    KMV_A as _X25B_A,
    KMV_B as _X25B_B,
    KMV_K as X25B_K,
    KMV_P as _X25B_P,
)

# (column tag, Spark integer-key expr, DuckDB integer-key expr)
X25B_KEYS = (
    ("l_orderkey", "l_orderkey", "l_orderkey"),
    ("l_partkey", "l_partkey", "l_partkey"),
    ("l_suppkey", "l_suppkey", "l_suppkey"),
    ("l_linenumber", "l_linenumber", "l_linenumber"),
    ("l_quantity", "CAST(ROUND(l_quantity) AS BIGINT)",
     "CAST(ROUND(l_quantity) AS BIGINT)"),
    ("l_discount", "CAST(ROUND(l_discount * 100) AS BIGINT)",
     "CAST(ROUND(l_discount * 100) AS BIGINT)"),
    ("l_returnflag", "ascii(l_returnflag)", "ascii(l_returnflag)"),
    ("l_linestatus", "ascii(l_linestatus)", "ascii(l_linestatus)"),
)


def x25b_column_stats_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11 optimization (the x25 per-column recipe applied to the KMV
    # arm): the old form exploded every row into 8 (col_tag, key)
    # structs — the same ×C row replication the x25 Expand fix removed —
    # then ran TWO salted window phases for bottom-K. Each column is now
    # its own subtree: a column-pruned scan → distinct hash (map-side
    # partial, NDV-bounded shuffle) → sort+limit K (planned as
    # per-partition local top-K, so the single merge sees ≤ K×partitions
    # rows — the skew the salted windows guarded against cannot occur).
    # The kept set per column — the K smallest distinct hashes — is
    # identical by construction, so k_kept/kth_min_hash and every
    # published column are unchanged.
    li = table(spark, sf_dir, "lineitem").select(
        *[c for c, _, _ in X25B_KEYS]
    )

    def kmin_subtree(c: str, sk: str) -> DataFrame:
        h = ((F.expr(sk).cast("long") % _X25B_P) * _X25B_A + _X25B_B) % _X25B_P
        return (
            li.select(h.alias("h"))
            .filter(F.col("h").isNotNull())
            .distinct()
            .orderBy(F.col("h").asc())
            .limit(X25B_K)
            .agg(
                F.count(F.lit(1)).cast("long").alias("k_kept"),
                F.max("h").cast("long").alias("kth_min_hash"),
            )
            .select(
                F.lit(c).alias("col_name"), "k_kept", "kth_min_hash"
            )
        )

    sketch = reduce(
        DataFrame.unionByName,
        [kmin_subtree(c, sk) for c, sk, _ in X25B_KEYS],
    )
    # exact ground-truth arm: the staged per-corpus exact-NDV table
    # shared with x25 (X25B_KEYS covers the same 8 columns) — the old
    # single multi-distinct aggregate planned as Expand, replicating
    # every fact row ×(C+1) through the partial aggregate.
    exact = _staged_exact_ndvs(spark, sf_dir).select(
        "col_name", F.col("ndv").alias("exact_ndv")
    )
    # estimate and error in EXACT integer fixed point (the t09
    # half-boundary class: float ROUND of a quotient is engine-unsafe):
    # est_e4 = (K-1)*P*1e4 DIV h_K; rel_err_ppm vs exact NDV in e4 units.
    bound_ppm = int(2.0 / (X25B_K - 1) ** 0.5 * 1_000_000)
    joined = (
        sketch.join(F.broadcast(exact), "col_name")
        .withColumn(
            "est_e4",
            F.expr(
                f"CASE WHEN k_kept < {X25B_K} THEN k_kept * 10000"
                f" ELSE CAST((CAST(k_kept AS DECIMAL(38,0)) - 1)"
                f"      * {_X25B_P} * 10000"
                f"      DIV kth_min_hash AS BIGINT) END"
            ),
        )
        .withColumn(
            "rel_err_ppm",
            F.expr(
                "abs(est_e4 - exact_ndv * 10000) * 1000000"
                " DIV (exact_ndv * 10000)"
            ),
        )
    )
    return joined.select(
        "col_name",
        "k_kept",
        "kth_min_hash",
        (F.col("est_e4") / 10_000.0).alias("kmv_estimate"),
        "exact_ndv",
        (F.col("rel_err_ppm") / 1_000_000.0).alias("rel_err"),
        (F.col("rel_err_ppm") <= bound_ppm).alias("within_bound"),
    )


def _oracle_x25b() -> str:
    bound_ppm = int(2.0 / (X25B_K - 1) ** 0.5 * 1_000_000)
    branches = []
    for c, _, dk in X25B_KEYS:
        branches.append(f"""
  SELECT '{c}' AS col_name,
         CAST(s.k_kept AS BIGINT) AS k_kept,
         CAST(s.kth_min_hash AS BIGINT) AS kth_min_hash,
         (CASE WHEN s.k_kept < {X25B_K} THEN s.k_kept * 10000
               ELSE CAST((CAST(s.k_kept AS HUGEINT) - 1) * {_X25B_P} * 10000
                         // s.kth_min_hash AS BIGINT) END) / 10000.0
           AS kmv_estimate,
         e.exact_ndv,
         (ABS((CASE WHEN s.k_kept < {X25B_K} THEN s.k_kept * 10000
                    ELSE CAST((CAST(s.k_kept AS HUGEINT) - 1) * {_X25B_P} * 10000
                              // s.kth_min_hash AS BIGINT) END)
              - e.exact_ndv * 10000) * 1000000
          // (e.exact_ndv * 10000)) / 1000000.0 AS rel_err,
         (ABS((CASE WHEN s.k_kept < {X25B_K} THEN s.k_kept * 10000
                    ELSE CAST((CAST(s.k_kept AS HUGEINT) - 1) * {_X25B_P} * 10000
                              // s.kth_min_hash AS BIGINT) END)
              - e.exact_ndv * 10000) * 1000000
          // (e.exact_ndv * 10000)) <= {bound_ppm} AS within_bound
  FROM (
    SELECT COUNT(*) AS k_kept, MAX(h) AS kth_min_hash FROM (
      SELECT DISTINCT ((CAST({dk} AS BIGINT) % {_X25B_P}) * {_X25B_A} + {_X25B_B}) % {_X25B_P} AS h
      FROM lineitem WHERE {c} IS NOT NULL
      ORDER BY h ASC LIMIT {X25B_K}
    )
  ) s
  CROSS JOIN (
    SELECT CAST(COUNT(DISTINCT {c}) AS BIGINT) AS exact_ndv FROM lineitem
  ) e""")
    return " UNION ALL ".join(branches)


QUERIES["x25b_column_stats_sketch"] = x25b_column_stats_sketch
ORACLES["x25b_column_stats_sketch"] = _oracle_x25b()


# ---------------------------------------------------------------------------
# x26 — distribution DRIFT detection: compare a numeric column's
# distribution between two periods (the train/serve or week-over-week
# shift monitor every feature pipeline runs). Both periods fold into
# the SAME fixed equi-width histogram (integer cents, bucket width
# chosen from the spec-fixed domain), then two libm-free statistics on
# the bounded bucket table:
#   - max CDF gap (the Kolmogorov–Smirnov statistic on binned data),
#   - L1 histogram distance (total variation ×2),
# both as exact rationals over (n_a × n_b)-scaled integers until the
# single final rounding. PSI is deliberately NOT used — it needs log(),
# and the repo's checked columns are libm-free by contract
# (cross-engine determinism).
#
# Scale: one scan per period folding to ≤ X26_BUCKETS counters
# (map-side combinable — the shuffle carries counters, never values);
# the CDF window walks the bounded bucket table. The same shape x20
# uses, pointed at drift instead of quantiles.
# ---------------------------------------------------------------------------
X26_BUCKETS = 64
X26_LO, X26_HI = 0, 500_000_00  # spec-fixed price domain in cents
X26_WIDTH = (X26_HI - X26_LO) // X26_BUCKETS
X26_SPLIT_YEAR = 2000


def x26_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        (F.year("o_orderdate") < X26_SPLIT_YEAR).alias("is_a"),
    )
    bucket = F.least(
        F.greatest(
            F.expr(f"(cents - {X26_LO}) div {X26_WIDTH}"), F.lit(0).cast("bigint")
        ),
        F.lit(X26_BUCKETS - 1).cast("bigint"),
    ).alias("bucket")
    hist = orders.groupBy(bucket).agg(
        F.sum(F.col("is_a").cast("long")).alias("c_a"),
        F.sum((~F.col("is_a")).cast("long")).alias("c_b"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum_a", F.sum("c_a").over(w)).withColumn(
        "cum_b", F.sum("c_b").over(w)
    )
    # exact integer cross-scaling: |cum_a * n_b - cum_b * n_a| over n_a*n_b
    # (the 1-row totals broadcast back onto the bounded bucket table)
    totals = cum.agg(
        F.max("cum_a").cast("long").alias("n_a"), F.max("cum_b").cast("long").alias("n_b")
    )
    scored = cum.crossJoin(F.broadcast(totals)).select(
        "bucket",
        "c_a",
        "c_b",
        # DECIMAL(38,0) cross-products: cum*n reaches ~(1.5e10)^2 at
        # 100 TB — int64 wraps silently (the e29/x13 divergence class).
        F.abs(
            F.col("cum_a").cast("decimal(38,0)") * F.col("n_b").cast("decimal(38,0)")
            - F.col("cum_b").cast("decimal(38,0)") * F.col("n_a").cast("decimal(38,0)")
        ).alias("gap_scaled"),
        F.abs(
            F.col("c_a").cast("decimal(38,0)") * F.col("n_b").cast("decimal(38,0)")
            - F.col("c_b").cast("decimal(38,0)") * F.col("n_a").cast("decimal(38,0)")
        ).alias("l1_scaled"),
        "n_a",
        "n_b",
    )
    return scored.agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n_buckets_hit"),
        # round-10 conversion: truncating decimal-DIV micros; the old
        # ROUND(decimal→double quotient, 6) was t09-class.
        (
            F.expr(
                "MAX(gap_scaled) * 1000000"
                " DIV (CAST(MAX(n_a) AS DECIMAL(19,0)) * MAX(n_b))"
            )
            / 1_000_000.0
        ).alias("ks_stat"),
        (
            F.expr(
                "SUM(l1_scaled) * 1000000"
                " DIV (CAST(MAX(n_a) AS DECIMAL(19,0)) * MAX(n_b))"
            )
            / 1_000_000.0
        ).alias("l1_dist"),
    )


ORACLE_X26 = f"""
WITH src AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         EXTRACT(year FROM o_orderdate) < {X26_SPLIT_YEAR} AS is_a
  FROM orders
),
hist AS (
  SELECT LEAST(GREATEST((cents - {X26_LO}) // {X26_WIDTH}, 0), {X26_BUCKETS - 1})
           AS bucket,
         SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS c_a,
         SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS c_b
  FROM src GROUP BY 1
),
cum AS (
  SELECT bucket, c_a, c_b,
         SUM(c_a) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         SUM(c_b) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
  FROM hist
),
totals AS (SELECT MAX(cum_a) AS n_a, MAX(cum_b) AS n_b FROM cum)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(COUNT(*) AS BIGINT) AS n_buckets_hit,
       (MAX(ABS(CAST(cum_a AS HUGEINT) * n_b
                        - CAST(cum_b AS HUGEINT) * n_a)) * 1000000
             // (CAST(n_a AS HUGEINT) * n_b)) / 1000000.0 AS ks_stat,
       (SUM(ABS(CAST(c_a AS HUGEINT) * n_b
                        - CAST(c_b AS HUGEINT) * n_a)) * 1000000
             // (CAST(n_a AS HUGEINT) * n_b)) / 1000000.0 AS l1_dist
FROM cum CROSS JOIN totals
GROUP BY n_a, n_b
"""


QUERIES["x26_histogram_drift"] = x26_histogram_drift
ORACLES["x26_histogram_drift"] = ORACLE_X26


# ---------------------------------------------------------------------------
# x41 — join-key skew audit: the distribution of per-key row counts for
# the suite's two hottest join keys (lineitem.l_orderkey,
# orders.o_custkey). Skewed keys are THE scale hazard this repo's plans
# keep designing around (AQE skew-split, salting, head/tail splits) —
# this op produces the evidence: max/median key multiplicity, the top
# key's share, and a skew verdict (max > 10x average), so a pipeline
# can decide salting BEFORE a join falls over at 100 TB.
#
# Every rank quantity factors through the count-of-counts histogram
# (the q58/x37 discipline): per-key counts are one keyed aggregate; the
# histogram of those counts is a tiny bounded table (multiplicities,
# not keys); the median comes from its cumulative sums — no global sort
# of keys anywhere.
#
# Determinism: pure integer counts, truncating-ppm shares.
# ---------------------------------------------------------------------------
X41_SHUFFLE_P = 200  # modeled reducer count (spark.sql.shuffle.partitions)
X41_SKEW_FACTOR = 5  # AQE default skewedPartitionFactor


def x41_join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def audit(tbl: str, key: str) -> DataFrame:
        per_key = (
            table(spark, sf_dir, tbl)
            .select(key)
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        hist = per_key.groupBy("cnt").agg(F.count(F.lit(1)).alias("t"))
        w = (
            Window.orderBy("cnt")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = hist.withColumn("cum", F.sum("t").over(w))
        totals = hist.agg(
            F.sum("t").alias("n_keys"),
            F.sum(F.col("cnt") * F.col("t")).alias("total_rows"),
            F.max("cnt").alias("max_count"),
        )
        med = (
            cum.crossJoin(F.broadcast(totals))
            .filter(F.col("cum") >= (F.col("n_keys") + 1) / 2)
            .agg(F.min("cnt").alias("median_count"))
        )
        # AQE advisory (round-8 task): model Spark's skew-join trigger —
        # a shuffle partition is split when its size exceeds
        # skewedPartitionFactor (default 5) x the median partition. With
        # hash partitioning into X41_SHUFFLE_P reducers, the hot key's
        # partition holds >= max_count rows plus its 1/P share of the
        # rest; the median partition holds ~total/P. All-integer model,
        # so the advisory is oracle-checkable and scale-invariant (row
        # RATIOS don't change when every key grows 100x uniformly —
        # which is why the boolean is the knob-setting answer for the
        # 100 TB cluster, not just this SF).
        return totals.crossJoin(F.broadcast(med)).select(
            F.lit(f"{tbl}.{key}").alias("join_key"),
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("total_rows").cast("long").alias("total_rows"),
            F.col("max_count").cast("long").alias("max_count"),
            F.col("median_count").cast("long").alias("median_count"),
            F.expr("max_count * 1000000 DIV total_rows").alias(
                "top_share_ppm"
            ),
            F.expr("max_count * n_keys > 10 * total_rows").alias("skewed"),
            F.expr(
                f"max_count + (total_rows - max_count) DIV {X41_SHUFFLE_P}"
            ).alias("hot_partition_rows"),
            F.expr(f"total_rows DIV {X41_SHUFFLE_P}").alias(
                "median_partition_rows"
            ),
            F.expr(
                f"(max_count + (total_rows - max_count) DIV {X41_SHUFFLE_P})"
                f" > {X41_SKEW_FACTOR}"
                f" * GREATEST(total_rows DIV {X41_SHUFFLE_P}, 1)"
            ).alias("trips_aqe_skew_split"),
        )

    return audit("lineitem", "l_orderkey").unionByName(
        audit("orders", "o_custkey")
    )


def _oracle_x41() -> str:
    branches = []
    for tbl, key in (("lineitem", "l_orderkey"), ("orders", "o_custkey")):
        branches.append(f"""
  SELECT '{tbl}.{key}' AS join_key,
         CAST(t.n_keys AS BIGINT) AS n_keys,
         CAST(t.total_rows AS BIGINT) AS total_rows,
         CAST(t.max_count AS BIGINT) AS max_count,
         CAST(m.median_count AS BIGINT) AS median_count,
         CAST(t.max_count * 1000000 // t.total_rows AS BIGINT)
           AS top_share_ppm,
         t.max_count * t.n_keys > 10 * t.total_rows AS skewed,
         CAST(t.max_count + (t.total_rows - t.max_count) // 200 AS BIGINT)
           AS hot_partition_rows,
         CAST(t.total_rows // 200 AS BIGINT) AS median_partition_rows,
         (t.max_count + (t.total_rows - t.max_count) // 200)
           > 5 * GREATEST(t.total_rows // 200, 1) AS trips_aqe_skew_split
  FROM (
    SELECT SUM(t) AS n_keys, SUM(cnt * t) AS total_rows, MAX(cnt) AS max_count
    FROM (SELECT cnt, COUNT(*) AS t
          FROM (SELECT {key}, COUNT(*) AS cnt FROM {tbl} GROUP BY {key})
          GROUP BY cnt)
  ) t CROSS JOIN (
    SELECT MIN(cnt) AS median_count FROM (
      SELECT cnt,
             SUM(t) OVER (ORDER BY cnt
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(t) OVER () AS n_keys
      FROM (SELECT cnt, COUNT(*) AS t
            FROM (SELECT {key}, COUNT(*) AS cnt FROM {tbl} GROUP BY {key})
            GROUP BY cnt)
    ) WHERE cum >= (n_keys + 1) / 2
  ) m""")
    return " UNION ALL ".join(branches)


QUERIES["x41_join_skew_audit"] = x41_join_skew_audit
ORACLES["x41_join_skew_audit"] = _oracle_x41()
