"""Event-stream operators — batch analogs of the reference's data plane.

The reference relays a keyed, ordered, append-only log with offset/time
replay and per-message enrichment (SURVEY §2.2-§2.5; /root/reference/app/
app.py:393-524). The ``events`` test table doubles as the batch form of that
stream (`event_id` ↔ ordinal, `ts` ↔ broker timestamp, `props` ↔ JSON body —
FIXTURES.md §B). Every transform here is also reused by the streaming path
(streaming/pipeline.py) — they are pure DataFrame→DataFrame functions.

Scale notes:
- replay predicates are single comparisons on sorted/partitioned columns →
  parquet min/max pruning skips irrelevant row-groups; at 100 TB with
  time-partitioned storage this is partition pruning, not a scan.
- enrichment is pure per-row expression work: one whole-stage-codegen span,
  no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import table

POISON = "POISON"  # control message, never forwarded (app/app.py:463-467)


# ---------------------------------------------------------------------------
# Replay (time travel) — SURVEY §2.2 Q1-Q4.
# Contract: exclusive seek — first delivered event is the one AFTER the
# reference position (README.md:196-202). Explicit 0 is honored (the
# reference's `if stream_from_ordinal:` falsy-zero bug is deliberately fixed;
# app/app.py:245, SURVEY §2.2).
# ---------------------------------------------------------------------------
def replay_from_ordinal(df: DataFrame, ordinal: int, col: str = "event_id") -> DataFrame:
    """Events strictly after `ordinal` (README.md:196-198)."""
    if ordinal is None:
        raise ValueError("ordinal must not be None; use 0 for 'from the beginning'")
    return df.filter(F.col(col) > F.lit(int(ordinal)))


def replay_from_timestamp(df: DataFrame, epoch_ms: int, col: str = "ts") -> DataFrame:
    """Events strictly after the epoch-millis position (app/app.py:256-266)."""
    return df.filter(F.unix_millis(F.col(col)) > F.lit(int(epoch_ms)))


def replay_from_datetime(df: DataFrame, dt_str: str, col: str = "ts") -> DataFrame:
    """Events after an ISO-8601 datetime; tz-less strings are UTC.

    The reference parses with dateutil then converts via process-local
    ``time.mktime`` (app/app.py:230-244) — a UTC bug we fix by pinning the
    session timezone to UTC (session.py).
    """
    return df.filter(F.col(col) > F.to_timestamp(F.lit(dt_str)))


# ---------------------------------------------------------------------------
# Wire-format handling — SURVEY §2.3/§2.4 (P1-P5, F1-F2).
# ---------------------------------------------------------------------------
def is_json_format(msg: Column) -> Column:
    """Format dispatch on first character (app/app.py:468-469)."""
    return msg.startswith("{")


def filter_control_messages(df: DataFrame, msg_col: str = "msg") -> DataFrame:
    """Drop empty bodies and the POISON pill (app/app.py:463-468)."""
    m = F.col(msg_col)
    return df.filter(m.isNotNull() & (F.length(m) > 0) & (m != POISON))


def enrich_json(df: DataFrame, msg_col: str, ordinal_col: str, ts_col: str) -> DataFrame:
    """Add ess_ordinal / ess_timestamp to a JSON envelope (app/app.py:487-489).

    Only `ess_`-prefixed keys may be added (app/app.py:470-471). Malformed
    JSON is dropped, not failed (app/app.py:474-485): the try_parse returns
    NULL and the row is filtered.
    """
    parsed = F.try_parse_json(F.col(msg_col))
    return (
        df.withColumn("_vj", parsed)
        .filter(F.col("_vj").isNotNull())
        .withColumn("ess_ordinal", F.col(ordinal_col).cast("long"))
        .withColumn("ess_timestamp", F.unix_millis(F.col(ts_col)))
        .drop("_vj")
    )


def enrich_prototext(df: DataFrame, msg_col: str, ordinal_col: str, ts_col: str) -> DataFrame:
    """Append `|ordinal: N|timestamp: M` to a protobuf-text message
    (app/app.py:490-494; wire shape README.md:137-147)."""
    return df.withColumn(
        "enriched",
        F.concat(
            F.col(msg_col),
            F.lit("|ordinal: "),
            F.col(ordinal_col).cast("string"),
            F.lit("|timestamp: "),
            F.unix_millis(F.col(ts_col)).cast("string"),
        ),
    )


# ---------------------------------------------------------------------------
# Query entries (spark, sf_dir) -> DataFrame, with DuckDB oracles.
# ---------------------------------------------------------------------------
def e01_replay_from_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return replay_from_ordinal(ev, 9900).select(
        "event_id", "user_id", "event_type", "value"
    )


ORACLE_E01 = """
SELECT event_id, user_id, event_type, value
FROM events WHERE event_id > 9900
"""


def e02_replay_from_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 2024-01-28T00:00:00Z == 1706400000000 ms
    ev = table(spark, sf_dir, "events")
    return replay_from_timestamp(ev, 1706400000000).select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
    )


ORACLE_E02 = """
SELECT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
FROM events WHERE epoch_ms(ts) > 1706400000000
"""


def e03_replay_from_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return replay_from_datetime(ev, "2024-01-28 06:30:00").select(
        "event_id", "user_id", "event_type"
    )


ORACLE_E03 = """
SELECT event_id, user_id, event_type
FROM events WHERE ts > TIMESTAMP '2024-01-28 06:30:00'
"""


def e04_enrich_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON envelope enrichment, batch analog: props is the message body."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    enriched = enrich_json(ev, "props", "event_id", "ts")
    return enriched.select(
        "event_id",
        F.col("event_type").alias("message_type"),
        "ess_ordinal",
        "ess_timestamp",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
    )


ORACLE_E04 = """
SELECT event_id,
       event_type AS message_type,
       event_id AS ess_ordinal,
       epoch_ms(ts) AS ess_timestamp,
       CAST(props->>'$.k' AS BIGINT) AS k_value
FROM events WHERE event_id < 2000
"""


def e05_filter_control_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISON/empty filtering + format dispatch, batch analog.

    Synthesizes the reference's wire mix deterministically from events:
    every 101st message empty, every 997th POISON, odd ids protobuf-text,
    even ids JSON — then applies the F1/F2/P2 pipeline and counts survivors
    by format class.
    """
    ev = table(spark, sf_dir, "events")
    msg = (
        F.when(F.col("event_id") % 101 == 0, F.lit(""))
        .when(F.col("event_id") % 997 == 0, F.lit(POISON))
        .when(F.col("event_id") % 2 == 0, F.col("props"))
        .otherwise(F.concat(F.lit("accountserver.MerchantCharge|sqn: "), F.col("event_id")))
    )
    df = ev.withColumn("msg", msg)
    kept = filter_control_messages(df, "msg")
    return (
        kept.withColumn(
            "format", F.when(is_json_format(F.col("msg")), "json").otherwise("prototext")
        )
        .groupBy("format")
        .agg(F.count(F.lit(1)).alias("n_messages"))
    )


ORACLE_E05 = """
WITH m AS (
  SELECT CASE
           WHEN event_id % 101 = 0 THEN ''
           WHEN event_id % 997 = 0 THEN 'POISON'
           WHEN event_id % 2 = 0 THEN props
           ELSE 'accountserver.MerchantCharge|sqn: ' || CAST(event_id AS VARCHAR)
         END AS msg
  FROM events
)
SELECT CASE WHEN msg LIKE '{%' THEN 'json' ELSE 'prototext' END AS format,
       COUNT(*) AS n_messages
FROM m
WHERE msg IS NOT NULL AND length(msg) > 0 AND msg <> 'POISON'
GROUP BY 1
"""


def e06_enrich_prototext(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    base = ev.withColumn(
        "msg",
        F.concat(F.lit("accountserver.MerchantCharge|sqn: "), F.col("event_id").cast("string")),
    )
    return enrich_prototext(base, "msg", "event_id", "ts").select("event_id", "enriched")


ORACLE_E06 = """
SELECT event_id,
       'accountserver.MerchantCharge|sqn: ' || CAST(event_id AS VARCHAR)
         || '|ordinal: ' || CAST(event_id AS VARCHAR)
         || '|timestamp: ' || CAST(epoch_ms(ts) AS VARCHAR) AS enriched
FROM events WHERE event_id < 1000
"""


def e07_message_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 byte-stats analog (app/app.py:424-426,499-501; ws_listener.py:43-48)."""
    ev = table(spark, sf_dir, "events")
    blen = F.length(F.col("props"))
    # avg_bytes publishes as exact integer micros / 1e6, not float ROUND
    # (the t09 half-boundary class): same integer both engines.
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("total_messages"),
            F.sum(blen.cast("long")).alias("total_bytes"),
            F.min(blen).alias("min_bytes"),
            F.max(blen).alias("max_bytes"),
        )
        .select(
            "event_type",
            "total_messages",
            "total_bytes",
            "min_bytes",
            "max_bytes",
            (F.expr("total_bytes * 1000000 div total_messages") / F.lit(1e6)).alias(
                "avg_bytes"
            ),
        )
    )


ORACLE_E07 = """
SELECT event_type,
       COUNT(*) AS total_messages,
       CAST(SUM(length(props)) AS BIGINT) AS total_bytes,
       CAST(MIN(length(props)) AS INTEGER) AS min_bytes,
       CAST(MAX(length(props)) AS INTEGER) AS max_bytes,
       CAST(SUM(length(props)) AS BIGINT) * 1000000 // COUNT(*) / 1e6 AS avg_bytes
FROM events GROUP BY event_type
"""


def e08_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream ordinal-gap detection (message loss is detectable via
    ordinal gaps, README.md:230-233). Each user_id is a stream with its own
    1-based monotonic ordinal (the relay model: ordinals are per-stream,
    app/app.py:245). Simulates retention loss by dropping every 13th global
    event_id, then reports each stream's gaps via lag() partitioned by the
    stream key — every window here is partitioned, so at 100x the work
    spreads across |streams| tasks instead of funnelling one global sort
    through a single partition.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "event_id")
    w_ord = Window.partitionBy("user_id").orderBy(F.col("event_id").asc())
    seq = ev.withColumn("ord", F.row_number().over(w_ord).cast("bigint"))
    kept = seq.filter(F.col("event_id") % 13 != 0)
    w_lag = Window.partitionBy("user_id").orderBy(F.col("ord").asc())
    lagged = kept.withColumn("prev_ord", F.lag("ord", 1).over(w_lag))
    return lagged.filter(F.col("ord") - F.col("prev_ord") > 1).select(
        "user_id",
        F.col("prev_ord").alias("gap_after"),
        F.col("ord").alias("resume_at"),
        (F.col("ord") - F.col("prev_ord") - 1).alias("n_lost"),
    )


ORACLE_E08 = """
WITH seq AS (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS ord
  FROM events
),
kept AS (SELECT * FROM seq WHERE event_id % 13 <> 0),
lagged AS (
  SELECT user_id, ord,
         LAG(ord) OVER (PARTITION BY user_id ORDER BY ord) AS prev_ord
  FROM kept
)
SELECT user_id, prev_ord AS gap_after, ord AS resume_at,
       ord - prev_ord - 1 AS n_lost
FROM lagged WHERE ord - prev_ord > 1
"""


def e09_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window aggregate (extension per SURVEY §2.9; the
    streaming twin uses window()+watermark in streaming/pipeline.py)."""
    ev = table(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "1 hour")
    return (
        ev.groupBy(win.start.alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


ORACLE_E09 = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


# A silence longer than this starts a new session — the ONE session rule
# shared by e10/e24/e25 (batch) and their oracles; the streaming twin is
# session_window in streaming/pipeline.py.
SESSION_GAP_MS = 30 * 60 * 1000


def _with_session_ids(ev: DataFrame) -> DataFrame:
    """Gaps-and-islands sessionization shared by e10/e24/e25: flag rows
    whose silence since the previous event exceeds SESSION_GAP_MS, then a
    running sum of flags numbers the sessions. Two window passes over the
    same (user_id, ts) partitioning — Spark reuses the exchange, so it is
    one shuffle."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = (
        F.unix_millis(F.col("ts")) - F.unix_millis(F.lag("ts", 1).over(w))
    ) > SESSION_GAP_MS
    return ev.withColumn(
        "session_id",
        F.sum(F.when(gap, 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def _sql_session_sid(extra_cols: str = "") -> str:
    """The DuckDB twin of `_with_session_ids` as `flagged`+`sid` CTE text
    (no leading WITH); `extra_cols` are carried through both CTEs."""
    cols = "user_id, event_id, ts" + (f", {extra_cols}" if extra_cols else "")
    return f"""flagged AS (
  SELECT {cols},
         CASE WHEN epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sid AS (
  SELECT {cols},
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)"""


def e10_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session stats over `_with_session_ids` sessions."""
    with_sid = _with_session_ids(table(spark, sf_dir, "events"))
    per_session = with_sid.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.sum("n_events").alias("total_events"),
    )


ORACLE_E10 = f"""
WITH {_sql_session_sid()},
per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events
  FROM sid GROUP BY user_id, session_id
)
SELECT user_id,
       COUNT(DISTINCT session_id) AS n_sessions,
       MAX(n_events) AS max_session_events,
       CAST(SUM(n_events) AS BIGINT) AS total_events
FROM per_session GROUP BY user_id
"""


def e11_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: for each purchase, the latest click at-or-before it by the
    same user. Spark lacks a native as-of join — the Spark-first composition
    is a union + `last(ignorenulls)` running window: one shuffle on user_id,
    no range explosion (vs. the naive inequality join, which is quadratic
    per user at 100 TB).

    Tie rule: clicks sort before purchases at equal ts (matches the oracle's
    `c.ts <= p.ts` + MAX semantics).
    """
    ev = table(spark, sf_dir, "events")
    cp = ev.filter(F.col("event_type").isin("click", "purchase"))
    tagged = cp.withColumn(
        "type_order", F.when(F.col("event_type") == "click", 0).otherwise(1)
    ).withColumn(
        "click_ts", F.when(F.col("event_type") == "click", F.col("ts"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("type_order").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_last = tagged.withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
    return (
        with_last.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
            F.date_format("last_click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_click_ts"),
        )
    )


ORACLE_E11 = """
SELECT p.event_id,
       p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       strftime(MAX(c.ts), '%Y-%m-%d %H:%M:%S.%f') AS last_click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id AND c.ts <= p.ts
GROUP BY p.event_id, p.user_id, p.ts
"""


def e12_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes (overlapping-window rates —
    SURVEY §2.9 extension; streaming twin is window(ts, '10 minutes',
    '5 minutes') with a watermark). Each event lands in exactly 2 windows;
    Spark's window() explodes map-side, so the only shuffle is the final
    (window_start, event_type) aggregate with map-side partial combine —
    same budget as the tumbling form. The oracle derives both epoch-aligned
    window starts arithmetically (floor(epoch/300)*300 and its predecessor).
    """
    ev = table(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "10 minutes", "5 minutes")
    # round-10 conversion: the sum is exact integer cents end to end and
    # published as cents/100.0 — the old ROUND(double, 4) publish rounded
    # the DuckDB side only (cast-asymmetry patch) and was t09-class.
    cents = F.round(F.col("value") * 100).cast("decimal(38,0)")
    return (
        ev.groupBy(win.start.alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("sum_cents"),
        )
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
            (F.col("sum_cents").cast("double") / F.lit(100.0)).alias("sum_value"),
        )
    )


ORACLE_E12 = """
WITH starts AS (
  SELECT event_type, CAST(ROUND(value * 100) AS HUGEINT) AS v_cents,
         unnest([CAST(FLOOR(epoch(ts) / 300) AS BIGINT) * 300,
                 CAST(FLOOR(epoch(ts) / 300) AS BIGINT) * 300 - 300]) AS ws
  FROM events
)
SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(v_cents) AS DOUBLE) / 100.0 AS sum_value
FROM starts GROUP BY 1, 2
"""


def e13_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per hour by volume — windowed heavy hitters, the
    composition behind 'trending now' dashboards. The rank window partitions
    by hour (thousands of hours at scale, no single-partition funnel); ties
    break on event_type for engine-stable output.
    """
    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("hour").orderBy(F.col("n_events").desc(), F.col("event_type").asc())
    return (
        hourly.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("hour", "event_type", "n_events", F.col("rk").cast("long").alias("rk"))
    )


ORACLE_E13 = """
WITH hourly AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT hour, event_type, n_events, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT hour, event_type, n_events,
         ROW_NUMBER() OVER (PARTITION BY hour
                            ORDER BY n_events DESC, event_type ASC) AS rk
  FROM hourly
) WHERE rk <= 3
"""


# ---------------------------------------------------------------------------
# e14 — changelog compaction: materialize the latest state per key from an
# append-only event log — the Kafka compacted-topic / CDC-upsert semantic,
# and the batch twin of a streaming `dropDuplicates` keyed on the entity.
# Latest = max (ts, event_id) per (user_id, event_type): event_id is the
# total-order tiebreak the relay's ess_ordinal contract guarantees
# (README.md:172-180 — ordinals are monotonic where payload time is not).
#
# Scale: one shuffle on the compaction key; the per-key window sort sees
# only that key's updates. At 100 TB the same plan serves incremental
# compaction by restricting the scan to new partitions and unioning the
# previous compacted table.
# ---------------------------------------------------------------------------
def e14_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            # FULL microsecond precision: the compacted state must carry
            # the same sort key the window used, or the incremental fold
            # (compact_incremental) would re-rank same-millisecond updates
            # by a TRUNCATED key and could elect a different winner than
            # this full-history pass.
            F.unix_micros("ts").alias("last_ts_us"),
            # raw parquet double: both engines read the same bytes — no
            # rounding procedure to differ (t09 class eliminated)
            F.col("value").alias("last_value"),
        )
    )


def compact_incremental(prev: DataFrame, new_events: DataFrame) -> DataFrame:
    """Incremental form of e14: fold new events into a previously
    compacted table without rescanning history.

    ``prev`` has e14's output schema; ``new_events`` the raw events schema.
    The union is |keys| + |new| rows — at 100 TB the prior compacted table
    is orders of magnitude smaller than the log it summarizes, so daily
    compaction costs one scan of the NEW partition only. Associativity of
    max-by-(ts, event_id) makes the fold exact: the result equals e14 run
    over the full history (tested in tests/test_compaction_incremental.py).
    """
    from pyspark.sql import Window

    new_compact = (
        new_events.select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.unix_micros("ts").alias("last_ts_us"),
            # raw parquet double: both engines read the same bytes — no
            # rounding procedure to differ (t09 class eliminated)
            F.col("value").alias("last_value"),
        )
    )
    unioned = prev.unionByName(new_compact)
    # Same total order as e14's window (micros, then event_id): the fold
    # is associative only when both paths rank by an identical key.
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("last_ts_us").desc(), F.col("last_event_id").desc()
    )
    return (
        unioned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


ORACLE_E14 = """
SELECT user_id, event_type,
       event_id AS last_event_id,
       epoch_us(ts) AS last_ts_us,
       value AS last_value
FROM (
  SELECT user_id, event_type, event_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# e15 — JSON path functions over the payload column: the schema-on-read
# surface every event pipeline needs (the reference parses payload JSON
# blindly and re-serializes, app/app.py:472-489 — here the engine exposes
# typed extraction). get_json_object / from_json run JVM-side inside
# codegen; there is no Python in the path and no shuffle before the final
# per-type aggregate.
# ---------------------------------------------------------------------------
def e15_json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    parsed = ev.select("event_type", k.alias("k"))
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
    )


ORACLE_E15 = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# e16 — interval join: for every click, the count and value-sum of the
# same user's views in the preceding 5 minutes. The naive form is an
# inequality-only join — per-user quadratic, the classic 100-TB
# cliff — so the plan decomposes it into an EQUI-join on
# (user_id, 5-minute time bucket): each view is exploded to its own
# bucket and the next one (a click's lookback window spans at most two
# buckets), the join matches on the bucket key, and the exact interval
# predicate filters the at-most-10-minutes of candidates. Candidates per
# click are bounded by the user's event rate, not history length.
# Streaming twin: stream-stream join with watermarks + time-range
# condition (tests/test_streaming_joins.py) — Spark compiles that to the
# same bounded-state shape.
# ---------------------------------------------------------------------------
E16_WINDOW_US = 300_000_000  # 5 minutes


def e16_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        F.col("ts").alias("c_ts"),
        F.unix_micros("ts").alias("c_us"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.unix_micros("ts").alias("v_us"),
        F.col("value").alias("v_value"),
    )
    views_exp = views.select(
        "v_user",
        "v_us",
        "v_value",
        F.explode(
            F.array(
                F.floor(F.col("v_us") / E16_WINDOW_US),
                F.floor(F.col("v_us") / E16_WINDOW_US) + 1,
            )
        ).alias("bucket"),
    )
    matched = (
        clicks.withColumn("c_bucket", F.floor(F.col("c_us") / E16_WINDOW_US))
        .join(
            views_exp,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("c_bucket") == F.col("bucket")),
        )
        .filter(
            (F.col("v_us") >= F.col("c_us") - E16_WINDOW_US)
            & (F.col("v_us") < F.col("c_us"))
        )
    )
    agg = matched.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_views_5m"),
        F.round(F.sum(F.col("v_value").cast("decimal(18,2)")).cast("double"), 4).alias(
            "sum_view_value"
        ),
    )
    return (
        clicks.join(agg, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
            F.coalesce(F.col("n_views_5m"), F.lit(0)).cast("long").alias("n_views_5m"),
            F.coalesce(F.col("sum_view_value"), F.lit(0.0)).alias("sum_view_value"),
        )
    )


ORACLE_E16 = f"""
SELECT c.event_id, c.user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
       CAST(COUNT(v.user_id) AS BIGINT) AS n_views_5m,
       ROUND(CAST(COALESCE(SUM(CAST(v.value AS DECIMAL(18,2))), 0)
                  AS DOUBLE), 4) AS sum_view_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON v.user_id = c.user_id
 AND epoch_us(v.ts) >= epoch_us(c.ts) - {E16_WINDOW_US}
 AND epoch_us(v.ts) < epoch_us(c.ts)
GROUP BY c.event_id, c.user_id, c.ts
"""


# ---------------------------------------------------------------------------
# e17 — out-of-order arrival statistics: within each user's stream (total
# order = event_id, the broker ordinal), how often does event time move
# BACKWARD, and by how much? The stream-health report that sizes
# watermarks: max_regression_ms is the lateness bound a correct watermark
# needs. One shuffle (user_id window partition); the final per-type
# aggregate is map-side combinable.
# ---------------------------------------------------------------------------
def e17_out_of_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").asc())
    with_prev = ev.withColumn("prev_us", F.lag("us").over(w))
    flagged = with_prev.withColumn(
        "ooo", (F.col("prev_us").isNotNull() & (F.col("us") < F.col("prev_us"))).cast("long")
    ).withColumn(
        "regress_ms",
        F.when(
            F.col("ooo") == 1, ((F.col("prev_us") - F.col("us")) / 1000).cast("long")
        ).otherwise(F.lit(0)),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("ooo").alias("n_out_of_order"),
            F.max("regress_ms").alias("max_regression_ms"),
        )
        .select(
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_out_of_order").cast("long").alias("n_out_of_order"),
            (F.expr("n_out_of_order * 1000000 div n_events") / F.lit(1e6)).alias("ooo_frac"),
            F.col("max_regression_ms").cast("long").alias("max_regression_ms"),
        )
    )


ORACLE_E17 = """
WITH seq AS (
  SELECT event_type, epoch_us(ts) AS us,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_us
  FROM events
),
flagged AS (
  SELECT event_type,
         CASE WHEN prev_us IS NOT NULL AND us < prev_us THEN 1 ELSE 0 END AS ooo,
         CASE WHEN prev_us IS NOT NULL AND us < prev_us
              THEN CAST((prev_us - us) // 1000 AS BIGINT) ELSE 0 END AS regress_ms
  FROM seq
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(ooo) AS BIGINT) AS n_out_of_order,
       SUM(ooo) * 1000000 // COUNT(*) / 1e6 AS ooo_frac,
       CAST(MAX(regress_ms) AS BIGINT) AS max_regression_ms
FROM flagged GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# e18 — conversion funnel: signup → first click at-or-after signup →
# first purchase at-or-after that click, per user, reported as step
# counts and step-to-step conversion rates. The sequence-analytics
# staple. Plan: all three step timestamps come from windows over the SAME
# user_id partition (Catalyst plans ONE shuffle and chains the windows),
# then a per-user collapse and a 3-row aggregate.
# ---------------------------------------------------------------------------
def e18_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    t_s = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    staged = ev.withColumn("t_s", t_s)
    t_c = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") >= F.col("t_s")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_c", t_c)
    t_p = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t_c")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_p", t_p)
    per_user = staged.groupBy("user_id").agg(
        F.min("t_s").alias("t_s"), F.min("t_c").alias("t_c"), F.min("t_p").alias("t_p")
    )
    agg = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_s").alias("n_signup"),
        F.count("t_c").alias("n_click"),
        F.count("t_p").alias("n_purchase"),
    )
    return agg.select(
        F.expr(
            "stack(3,"
            " 1, 'signup', n_signup, n_signup * 1000000 div n_users / 1e6,"
            " 2, 'click_after_signup', n_click, n_click * 1000000 div n_signup / 1e6,"
            " 3, 'purchase_after_click', n_purchase, n_purchase * 1000000 div n_click / 1e6)"
        ).alias("step_idx", "step", "n_users", "conv_from_prev")
    ).select(
        "step_idx",
        "step",
        F.col("n_users").cast("long").alias("n_users"),
        "conv_from_prev",
    )


ORACLE_E18 = """
WITH s AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_s
  FROM events GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_c
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'click' AND e.ts >= s.t_s
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_p
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_c
  GROUP BY e.user_id
),
agg AS (
  SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
         (SELECT COUNT(*) FROM s WHERE t_s IS NOT NULL) AS n_signup,
         (SELECT COUNT(*) FROM c) AS n_click,
         (SELECT COUNT(*) FROM p) AS n_purchase
)
SELECT 1 AS step_idx, 'signup' AS step, CAST(n_signup AS BIGINT) AS n_users,
       n_signup * 1000000 // n_users / 1e6 AS conv_from_prev FROM agg
UNION ALL
SELECT 2, 'click_after_signup', CAST(n_click AS BIGINT),
       n_click * 1000000 // n_signup / 1e6 FROM agg
UNION ALL
SELECT 3, 'purchase_after_click', CAST(n_purchase AS BIGINT),
       n_purchase * 1000000 // n_click / 1e6 FROM agg
"""


# ---------------------------------------------------------------------------
# e19 — time-series gap fill: hourly per-type event counts over a DENSE
# hour grid (hours with no events appear with n_events = 0 and the
# last-observed hourly sum carried forward) — the regularization step
# before any rolling metric or chart. Plan: the sparse aggregate is one
# (type, hour) shuffle; the dense grid is sequence()-exploded from the
# 1-row global min/max (broadcast); the carry-forward is a last(
# ignorenulls) window PARTITIONED by type — parallel across types, and
# within a type the hour axis is bounded (hours since epoch), not
# data-sized.
# ---------------------------------------------------------------------------
def e19_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_micros("ts") / 3_600_000_000).alias("hour_no"),
        "value",
    )
    # round-10 conversion: exact integer cents, published cents/100.0
    # (the old symmetric ROUND(sum, 4) was still a float-ROUND publish).
    sparse = ev.groupBy("event_type", "hour_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.round(F.col("value") * 100).cast("decimal(38,0)")).cast("double") / F.lit(100.0)).alias(
            "sum_value"
        ),
    )
    bounds = ev.agg(
        F.min("hour_no").alias("h_lo"), F.max("hour_no").alias("h_hi")
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("h_lo"), F.col("h_hi"))).alias("hour_no"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("hour_no").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(sparse, ["event_type", "hour_no"], "left")
        .withColumn("is_gap", F.col("n_events").isNull().cast("int"))
        .withColumn("n_events", F.coalesce("n_events", F.lit(0)).cast("long"))
        .withColumn(
            "filled_sum_value",
            F.coalesce(F.last("sum_value", ignorenulls=True).over(w), F.lit(0.0)),
        )
        .select("event_type", "hour_no", "n_events", "is_gap", "filled_sum_value")
    )


ORACLE_E19 = """
WITH ev AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_no,
         CAST(ROUND(value * 100) AS HUGEINT) AS v_cents
  FROM events
),
sparse AS (
  SELECT event_type, hour_no, COUNT(*) AS n_events,
         CAST(SUM(v_cents) AS DOUBLE) / 100.0 AS sum_value
  FROM ev GROUP BY event_type, hour_no
),
grid AS (
  SELECT t.event_type, g.hour_no
  FROM (SELECT DISTINCT event_type FROM ev) t,
       (SELECT unnest(generate_series((SELECT MIN(hour_no) FROM ev),
                                      (SELECT MAX(hour_no) FROM ev))) AS hour_no) g
)
SELECT g.event_type, g.hour_no,
       CAST(COALESCE(s.n_events, 0) AS BIGINT) AS n_events,
       CAST(CASE WHEN s.n_events IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_gap,
       COALESCE(LAST_VALUE(s.sum_value IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.hour_no
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
         AS filled_sum_value
FROM grid g LEFT JOIN sparse s USING (event_type, hour_no)
"""



# ---------------------------------------------------------------------------
# e20 — DAU/MAU stickiness: distinct active users per day over distinct
# active users in that day's calendar month — the product-analytics
# engagement staple. Two distinct aggregates (day-keyed and month-keyed,
# both map-side partial) joined on the month; at 100 TB both reduce to
# |days| and |months| rows before the join, and the month side is tiny →
# broadcast-safe by construction (bounded by calendar time, not data).
# ---------------------------------------------------------------------------
def e20_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.date_format("ts", "yyyy-MM").alias("month"),
        "user_id",
    )
    dau = ev.groupBy("day", "month").agg(F.count_distinct("user_id").alias("dau"))
    mau = ev.groupBy("month").agg(F.count_distinct("user_id").alias("mau"))
    return (
        dau.join(F.broadcast(mau), "month")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("mau").cast("long").alias("mau"),
            (F.expr("dau * 1000000 div mau") / F.lit(1e6)).alias("stickiness"),
        )
    )


ORACLE_E20 = """
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, strftime(ts, '%Y-%m') AS month, user_id
  FROM events
),
dau AS (SELECT day, month, COUNT(DISTINCT user_id) AS dau FROM d GROUP BY day, month),
mau AS (SELECT month, COUNT(DISTINCT user_id) AS mau FROM d GROUP BY month)
SELECT strftime(dau.day, '%Y-%m-%d') AS day,
       CAST(dau.dau AS BIGINT) AS dau,
       CAST(mau.mau AS BIGINT) AS mau,
       dau.dau * 1000000 // mau.mau / 1e6 AS stickiness
FROM dau JOIN mau USING (month)
"""



# ---------------------------------------------------------------------------
# e21 — hourly volume anomalies: hours whose event count exceeds 1.5x the
# mean of the preceding 6 hours (per event type). Pure integer counts and
# one cross-multiplied comparison (count * 6 * 10 >= 15 * trailing_sum) —
# no floats until the reported ratio, so both engines flag identical
# hours. One (type, hour) aggregate plus one type-partitioned window.
# ---------------------------------------------------------------------------
E21_NUM, E21_DEN = 15, 10  # threshold ratio 1.5 as a rational


def e21_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_micros("ts") / 3_600_000_000).alias("hour_no"),
    )
    hourly = ev.groupBy("event_type", "hour_no").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("hour_no").asc())
        .rowsBetween(-6, -1)
    )
    flagged = (
        hourly.withColumn("trail_sum", F.sum("n_events").over(w))
        .withColumn("trail_n", F.count("n_events").over(w))
        .filter(F.col("trail_n") == 6)  # full trailing window only
        .filter(
            F.col("n_events") * 6 * E21_DEN >= F.col("trail_sum") * E21_NUM
        )
    )
    return flagged.select(
        "event_type",
        F.col("hour_no").cast("long").alias("hour_no"),
        F.col("n_events").cast("long").alias("n_events"),
        (F.expr("n_events * 6000000 div trail_sum") / F.lit(1e6)).alias("ratio"),
    )


ORACLE_E21 = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_no, COUNT(*) AS n_events
  FROM events GROUP BY event_type, hour_no
),
trailed AS (
  SELECT event_type, hour_no, n_events,
         SUM(n_events) OVER (PARTITION BY event_type ORDER BY hour_no
                             ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
           AS trail_sum,
         COUNT(n_events) OVER (PARTITION BY event_type ORDER BY hour_no
                               ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
           AS trail_n
  FROM hourly
)
SELECT event_type, CAST(hour_no AS BIGINT) AS hour_no,
       CAST(n_events AS BIGINT) AS n_events,
       n_events * 6000000 // trail_sum / 1e6 AS ratio
FROM trailed
WHERE trail_n = 6 AND n_events * 6 * {E21_DEN} >= trail_sum * {E21_NUM}
"""


# ---------------------------------------------------------------------------
# e22 — event-type transition matrix (first-order Markov model of user
# behavior): per user, pair each event with its successor in event_id
# order (a user-partitioned lead window — parallel across users, never a
# global sort), then count transitions and normalize per source type.
# The probability is one ratio of two counts, rounded once — both
# engines agree exactly. Two shuffles: the per-user window and the
# |types|² aggregate.
# ---------------------------------------------------------------------------
def e22_event_type_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").asc())
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    counted = pairs.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    w_src = Window.partitionBy("event_type")
    return (
        counted.withColumn("src_total", F.sum("n_transitions").over(w_src))
        .select(
            "event_type",
            "next_type",
            F.col("n_transitions").cast("long").alias("n_transitions"),
            (F.expr("n_transitions * 1000000 div src_total") / F.lit(1e6)).alias("p_next"),
        )
    )


ORACLE_E22 = """
WITH pairs AS (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY event_id ASC)
           AS next_type
  FROM events
),
counted AS (
  SELECT event_type, next_type, COUNT(*) AS n_transitions
  FROM pairs WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT event_type, next_type,
       CAST(n_transitions AS BIGINT) AS n_transitions,
       n_transitions * 1000000 //
             SUM(n_transitions) OVER (PARTITION BY event_type) / 1e6 AS p_next
FROM counted
"""


# ---------------------------------------------------------------------------
# e23 — inter-arrival-time percentiles per event type: the latency-
# distribution profile a stream operator needs to pick watermark delays
# and session gaps. Per-type lag window (parallel across types) gives the
# gap to the previous event of the SAME type in ts order (event_id as the
# unique tie-break — equal timestamps exist); exact `percentile`
# (linear-interpolated, same definition as DuckDB's quantile_cont) over
# integer microsecond gaps, rounded once.
#
# Scale: exact percentile needs the per-type gap multiset on one
# reducer — fine for a bounded type alphabet (the group count is |types|,
# not SF-scaled); for high-cardinality keys x02's approx_percentile is
# the scale path.
# ---------------------------------------------------------------------------
def e23_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("us").asc(), F.col("event_id").asc()
    )
    gaps = (
        ev.withColumn("prev_us", F.lag("us").over(w))
        .filter(F.col("prev_us").isNotNull())
        .withColumn("gap_us", F.col("us") - F.col("prev_us"))
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.expr("percentile(gap_us, 0.5)").alias("p50"),
            F.expr("percentile(gap_us, 0.95)").alias("p95"),
            F.expr("percentile(gap_us, 0.99)").alias("p99"),
            F.max("gap_us").alias("max_gap"),
        )
        .select(
            "event_type",
            F.col("n_gaps").cast("long").alias("n_gaps"),
            (F.floor(F.col("p50")) / F.lit(1000.0)).alias("p50_ms"),
            (F.floor(F.col("p95")) / F.lit(1000.0)).alias("p95_ms"),
            (F.floor(F.col("p99")) / F.lit(1000.0)).alias("p99_ms"),
            F.col("max_gap").cast("long").alias("max_gap_us"),
        )
    )


ORACLE_E23 = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY event_type ORDER BY epoch_us(ts) ASC, event_id ASC
         ) AS gap_us
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       FLOOR(quantile_cont(gap_us, 0.5)) / 1000.0 AS p50_ms,
       FLOOR(quantile_cont(gap_us, 0.95)) / 1000.0 AS p95_ms,
       FLOOR(quantile_cont(gap_us, 0.99)) / 1000.0 AS p99_ms,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# e24 — top session paths: e10's gaps-and-islands sessionization followed
# by path mining — the ordered prefix (first 5 event types) of each
# session, counted across sessions, top 20. The navigation-pattern
# report behind funnel design (e18 checks ONE hypothesized path; e24
# discovers which paths actually dominate).
#
# Scale: sessionization is e10's single (user_id)-partitioned window
# shuffle; the path string builds in ONE per-session aggregate
# (array_sort of (ts, event_id, type) structs — no second window), and
# the prefix cap bounds row width regardless of session length. Path
# counting shuffles |distinct paths| ≤ |types|⁵ rows; top-20 is
# TakeOrderedAndProject.
# ---------------------------------------------------------------------------
E24_PREFIX = 5
E24_TOP = 20


def e24_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    with_sid = _with_session_ids(ev)
    paths = with_sid.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s.event_type,
                ),
                1,
                E24_PREFIX,
            ),
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    order_cols = [F.col("n_sessions").desc(), F.col("path").asc()]
    top = counted.orderBy(*order_cols).limit(E24_TOP)
    rank_w = Window.orderBy(*order_cols)
    return top.withColumn("rank", F.row_number().over(rank_w)).select(
        "rank", "path", F.col("n_sessions").cast("long").alias("n_sessions")
    )


ORACLE_E24 = f"""
WITH {_sql_session_sid("event_type")},
paths AS (
  SELECT user_id, session_id,
         array_to_string(
           (list(event_type ORDER BY ts ASC, event_id ASC))[1:{E24_PREFIX}],
           '>') AS path
  FROM sid GROUP BY user_id, session_id
),
counted AS (SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY path)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path ASC) AS INTEGER)
         AS rank,
       path, CAST(n_sessions AS BIGINT) AS n_sessions
FROM counted
ORDER BY n_sessions DESC, path ASC
LIMIT {E24_TOP}
"""


# ---------------------------------------------------------------------------
# e25 — session co-occurrence lift (market-basket over sessions): for
# every pair of event types, how much more often they share a session
# than independence predicts — lift = P(a,b) / (P(a)·P(b)) over e10's
# sessions. Lift > 1 marks behaviorally-coupled features; the
# association signal behind "users who X also Y".
#
# Scale: sessionization is the one user-partitioned window shuffle;
# each session reduces to its sorted DISTINCT type set in one aggregate
# and pairs expand IN-ROW (the q35 trick — bounded by |types|², never
# session length). Everything after runs on ≤ |types|² rows; the
# session total and single-type counts broadcast. Lift is one rational
# expression rounded once — identical in both engines.
# ---------------------------------------------------------------------------
def e25_session_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    with_sid = _with_session_ids(ev)
    sets = with_sid.groupBy("user_id", "session_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(types, (a, i) -> transform("
                    "slice(types, i + 2, size(types) - i - 1), "
                    "b -> struct(a AS a, b AS b)))"
                )
            )
        ).alias("pr")
    ).select("pr.a", "pr.b")
    both = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_both"))
    # Group under the domain name (event_type) so the plan-guard can see
    # the fixed-enum grouping; rename to the join alias afterwards.
    singles = (
        sets.select(F.explode("types").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_t"))
        .select(F.col("event_type").alias("t"), "n_t")
    )
    total = sets.agg(F.count(F.lit(1)).alias("n_sessions"))
    return (
        both.join(
            F.broadcast(singles.select(F.col("t").alias("a"), F.col("n_t").alias("n_a"))),
            "a",
        )
        .join(
            F.broadcast(singles.select(F.col("t").alias("b"), F.col("n_t").alias("n_b"))),
            "b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col("a").alias("type_a"),
            F.col("b").alias("type_b"),
            F.col("n_both").cast("long").alias("n_both"),
            (
                F.expr("n_both * n_sessions * 1000000 div (n_a * n_b)")
                / F.lit(1e6)
            ).alias("lift"),
            (F.expr("n_both * 1000000 div n_sessions") / F.lit(1e6)).alias(
                "support"
            ),
        )
    )


ORACLE_E25 = f"""
WITH {_sql_session_sid("event_type")},
sess_types AS (
  SELECT DISTINCT user_id, session_id, event_type FROM sid
),
pair_counts AS (
  SELECT x.event_type AS a, y.event_type AS b, COUNT(*) AS n_both
  FROM sess_types x JOIN sess_types y
    ON x.user_id = y.user_id AND x.session_id = y.session_id
   AND x.event_type < y.event_type
  GROUP BY 1, 2
),
singles AS (
  SELECT event_type AS t, COUNT(*) AS n_t FROM sess_types GROUP BY 1
),
total AS (
  SELECT COUNT(*) AS n_sessions
  FROM (SELECT DISTINCT user_id, session_id FROM sess_types)
)
SELECT b.a AS type_a, b.b AS type_b,
       CAST(b.n_both AS BIGINT) AS n_both,
       b.n_both * t.n_sessions * 1000000 // (sa.n_t * sb.n_t) / 1e6 AS lift,
       b.n_both * 1000000 // t.n_sessions / 1e6 AS support
FROM pair_counts b
JOIN singles sa ON sa.t = b.a
JOIN singles sb ON sb.t = b.b
CROSS JOIN total t
"""


# ---------------------------------------------------------------------------
# e26 — robust hourly anomalies via median absolute deviation: e21 flags
# against a trailing MEAN, which an earlier anomaly inflates (masking);
# the MAD baseline is outlier-proof — median hourly count per type, MAD
# of the deviations, flag hours beyond 5·MAD. Exact medians are valid
# here because the group is hours-per-type (bounded by calendar time,
# not event volume). Determinism: counts are integers, so medians and
# MADs are exact .0/.5 binary fractions and the 5·MAD comparison cannot
# ulp-flip between engines.
# ---------------------------------------------------------------------------
E26_K = 5  # MAD multiplier


def e26_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = (
        table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.floor(F.unix_micros("ts") / 3_600_000_000).alias("hour_no"),
        )
        .groupBy("event_type", "hour_no")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    med = hourly.groupBy("event_type").agg(
        F.expr("percentile(cnt, 0.5)").alias("med")
    )
    dev = hourly.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cnt") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type").withColumn(
        "is_anom", (F.col("adev") > E26_K * F.col("mad")).cast("long")
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.max("med").alias("median_count"),
        F.max("mad").alias("mad"),
        F.sum("is_anom").cast("long").alias("n_anomalous_hours"),
        F.max("cnt").cast("long").alias("max_count"),
    )


ORACLE_E26 = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_no, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, quantile_cont(cnt, 0.5) AS med FROM hourly GROUP BY 1
),
dev AS (
  SELECT h.event_type, h.cnt, m.med, ABS(h.cnt - m.med) AS adev
  FROM hourly h JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       MAX(d.med) AS median_count,
       MAX(m.mad) AS mad,
       CAST(SUM(CASE WHEN d.adev > {E26_K} * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_anomalous_hours,
       CAST(MAX(d.cnt) AS BIGINT) AS max_count
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


# ---------------------------------------------------------------------------
# e27 — funnel conversion latency: for each user whose first purchase
# follows their first signup, the signup→purchase delay — e18 reports
# WHO converts, e27 reports HOW LONG conversion takes (the number that
# sizes re-engagement windows). Per-user firsts are one min-aggregate
# (map-side combinable, |users| rows out); the latency distribution is
# exact percentiles over the reduced per-user table (the x02 tradeoff:
# exact for the oracle, sketch at extreme user counts — noted).
# ---------------------------------------------------------------------------
def e27_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("us"))).alias("s_us"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("us"))).alias("p_us"),
    )
    lat = firsts.filter(
        F.col("s_us").isNotNull()
        & F.col("p_us").isNotNull()
        & (F.col("p_us") > F.col("s_us"))
    ).withColumn("lat_us", F.col("p_us") - F.col("s_us"))
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_converting_users"),
        (F.floor(F.expr("percentile(lat_us, 0.5)")) / F.lit(60_000_000.0)).alias(
            "p50_minutes"
        ),
        (F.floor(F.expr("percentile(lat_us, 0.9)")) / F.lit(60_000_000.0)).alias(
            "p90_minutes"
        ),
        (F.min("lat_us") / F.lit(60_000_000.0)).alias("min_minutes"),
        (F.max("lat_us") / F.lit(60_000_000.0)).alias("max_minutes"),
    )


ORACLE_E27 = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s_us,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us
  FROM events GROUP BY user_id
),
lat AS (
  SELECT p_us - s_us AS lat_us FROM firsts
  WHERE s_us IS NOT NULL AND p_us IS NOT NULL AND p_us > s_us
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converting_users,
       FLOOR(quantile_cont(lat_us, 0.5)) / 60000000.0 AS p50_minutes,
       FLOOR(quantile_cont(lat_us, 0.9)) / 60000000.0 AS p90_minutes,
       MIN(lat_us) / 60000000.0 AS min_minutes,
       MAX(lat_us) / 60000000.0 AS max_minutes
FROM lat
"""


QUERIES = {
    "e01_replay_from_ordinal": e01_replay_from_ordinal,
    "e02_replay_from_timestamp": e02_replay_from_timestamp,
    "e03_replay_from_datetime": e03_replay_from_datetime,
    "e04_enrich_json": e04_enrich_json,
    "e05_filter_control_messages": e05_filter_control_messages,
    "e06_enrich_prototext": e06_enrich_prototext,
    "e07_message_stats": e07_message_stats,
    "e08_gap_detection": e08_gap_detection,
    "e09_tumbling_window": e09_tumbling_window,
    "e10_sessionize": e10_sessionize,
    "e11_asof_join": e11_asof_join,
    "e12_sliding_window": e12_sliding_window,
    "e13_windowed_topk": e13_windowed_topk,
    "e14_log_compaction": e14_log_compaction,
    "e15_json_functions": e15_json_functions,
    "e16_interval_join": e16_interval_join,
    "e17_out_of_order_stats": e17_out_of_order_stats,
    "e18_conversion_funnel": e18_conversion_funnel,
    "e19_gap_fill": e19_gap_fill,
    "e20_dau_mau_stickiness": e20_dau_mau_stickiness,
    "e21_hourly_anomalies": e21_hourly_anomalies,
    "e22_event_type_markov": e22_event_type_markov,
    "e23_interarrival_stats": e23_interarrival_stats,
    "e24_top_session_paths": e24_top_session_paths,
    "e25_session_cooccurrence": e25_session_cooccurrence,
    "e26_mad_anomalies": e26_mad_anomalies,
    "e27_funnel_latency": e27_funnel_latency,
}

ORACLES = {
    "e01_replay_from_ordinal": ORACLE_E01,
    "e02_replay_from_timestamp": ORACLE_E02,
    "e03_replay_from_datetime": ORACLE_E03,
    "e04_enrich_json": ORACLE_E04,
    "e05_filter_control_messages": ORACLE_E05,
    "e06_enrich_prototext": ORACLE_E06,
    "e07_message_stats": ORACLE_E07,
    "e08_gap_detection": ORACLE_E08,
    "e09_tumbling_window": ORACLE_E09,
    "e10_sessionize": ORACLE_E10,
    "e11_asof_join": ORACLE_E11,
    "e12_sliding_window": ORACLE_E12,
    "e13_windowed_topk": ORACLE_E13,
    "e14_log_compaction": ORACLE_E14,
    "e15_json_functions": ORACLE_E15,
    "e16_interval_join": ORACLE_E16,
    "e17_out_of_order_stats": ORACLE_E17,
    "e18_conversion_funnel": ORACLE_E18,
    "e19_gap_fill": ORACLE_E19,
    "e20_dau_mau_stickiness": ORACLE_E20,
    "e21_hourly_anomalies": ORACLE_E21,
    "e22_event_type_markov": ORACLE_E22,
    "e23_interarrival_stats": ORACLE_E23,
    "e24_top_session_paths": ORACLE_E24,
    "e25_session_cooccurrence": ORACLE_E25,
    "e26_mad_anomalies": ORACLE_E26,
    "e27_funnel_latency": ORACLE_E27,
}


# ---------------------------------------------------------------------------
# e28 — FORWARD as-of join with tolerance: for each click, the FIRST
# purchase at-or-after it by the same user, matched only within
# E28_TOLERANCE_MS (attribution windows, SLA "time to next action"). The
# mirror of e11's backward as-of; the tolerance bound is what the naive
# inequality join cannot express without a quadratic range explosion.
#
# Spark-first composition: union clicks+purchases, one (user_id)-
# partitioned window ordered (ts, type_order, event_id) with a
# 1-FOLLOWING..UNBOUNDED frame, first(ignorenulls) pulls the next
# purchase's id and ts from the same row; the tolerance is a map-side
# filter afterwards (the first following purchase is the only candidate —
# if it is beyond tolerance, none qualify). One shuffle, no range join.
# Tie rule: purchases sort AFTER clicks at equal ts, so a same-timestamp
# purchase matches (at-or-after), deterministically by event_id.
# ---------------------------------------------------------------------------
E28_TOLERANCE_MS = 10 * 60 * 1000


def e28_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cp = ev.filter(F.col("event_type").isin("click", "purchase"))
    tagged = (
        cp.withColumn(
            "type_order", F.when(F.col("event_type") == "click", 0).otherwise(1)
        )
        .withColumn(
            "pid", F.when(F.col("event_type") == "purchase", F.col("event_id"))
        )
        .withColumn("pts", F.when(F.col("event_type") == "purchase", F.col("ts")))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("type_order").asc(), F.col("event_id").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = tagged.withColumn(
        "next_pid", F.first("pid", ignorenulls=True).over(w)
    ).withColumn("next_pts", F.first("pts", ignorenulls=True).over(w))
    lag_ms = F.unix_millis("next_pts") - F.unix_millis("ts")
    within = F.col("next_pid").isNotNull() & (lag_ms <= E28_TOLERANCE_MS)
    return nxt.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        F.when(within, F.col("next_pid")).otherwise(F.lit(-1)).cast("long").alias(
            "purchase_id"
        ),
        F.when(within, lag_ms).otherwise(F.lit(-1)).cast("long").alias("lag_ms"),
    )


ORACLE_E28 = f"""
WITH cp AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS type_order,
         CASE WHEN event_type = 'purchase' THEN event_id END AS pid,
         CASE WHEN event_type = 'purchase' THEN ts END AS pts
  FROM events WHERE event_type IN ('click', 'purchase')
),
nxt AS (
  SELECT *,
         first_value(pid IGNORE NULLS) OVER w AS next_pid,
         first_value(pts IGNORE NULLS) OVER w AS next_pts
  FROM cp
  WINDOW w AS (PARTITION BY user_id
               ORDER BY ts ASC, type_order ASC, event_id ASC
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT event_id AS click_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
       CASE WHEN next_pid IS NOT NULL
             AND epoch_ms(next_pts) - epoch_ms(ts) <= {E28_TOLERANCE_MS}
            THEN next_pid ELSE -1 END AS purchase_id,
       CASE WHEN next_pid IS NOT NULL
             AND epoch_ms(next_pts) - epoch_ms(ts) <= {E28_TOLERANCE_MS}
            THEN epoch_ms(next_pts) - epoch_ms(ts) ELSE -1 END AS lag_ms
FROM nxt WHERE event_type = 'click'
"""


QUERIES["e28_asof_forward"] = e28_asof_forward
ORACLES["e28_asof_forward"] = ORACLE_E28


# ---------------------------------------------------------------------------
# e29 — decayed trending scores: per event type, a half-life-per-day
# exponentially decayed event count as of the newest day in the stream —
# the "trending now" ranking where yesterday counts half of today. The
# decay weight 2^-age is kept INTEGER-EXACT: each event contributes the
# integer 1 << (SHIFT - age_days) and the final score divides the exact
# integer sum by 2^SHIFT once — no pow(), no float accumulation order,
# both engines agree bit-for-bit (events older than SHIFT days weigh 0,
# the documented cutoff ~1e-12 of an event).
#
# Scale: map-side weight computation + one (event_type) aggregate with
# map-side combine; the 1-row max-day aggregate broadcasts.
# ---------------------------------------------------------------------------
E29_SHIFT = 40


def e29_decayed_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type"
    )
    latest = ev.agg(F.max("day").alias("max_day"))
    # Pre-aggregate per (event_type, day) FIRST — at most (types x days)
    # rows carry a weight — then multiply counts by the 2^-age weight in
    # DECIMAL(38,0): summing per-event 2^40 weights into a BIGINT would
    # wrap silently past ~8.4M day-0 events (Spark wraps, DuckDB errors —
    # the exact cross-engine divergence class). Decimal is overflow-safe
    # to 10^38 ~ 2^126.
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    weighted = daily.crossJoin(F.broadcast(latest)).withColumn(
        "w",
        F.expr(
            f"CASE WHEN datediff(max_day, day) <= {E29_SHIFT} THEN "
            f"shiftleft(CAST(1 AS BIGINT), {E29_SHIFT} - datediff(max_day, day)) "
            "ELSE CAST(0 AS BIGINT) END"
        ),
    )
    scored = weighted.groupBy("event_type").agg(
        F.sum("cnt").alias("n_events"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("w").cast("decimal(38,0)")
        ).alias("w_sum"),
    )
    rank_w = Window.orderBy(F.col("w_sum").desc(), F.col("event_type").asc())
    return scored.withColumn("rank", F.row_number().over(rank_w)).select(
        F.col("rank").cast("int").alias("rank"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        (
            F.expr(f"CAST(w_sum * 1000000 div {2 ** E29_SHIFT} AS BIGINT)")
            / F.lit(1e6)
        ).alias("decayed_score"),
    )


ORACLE_E29 = f"""
WITH ev AS (SELECT CAST(ts AS DATE) AS day, event_type FROM events),
latest AS (SELECT MAX(day) AS max_day FROM ev),
daily AS (
  SELECT event_type, day, COUNT(*) AS cnt FROM ev GROUP BY event_type, day
),
weighted AS (
  SELECT event_type, cnt,
         CASE WHEN date_diff('day', day, max_day) <= {E29_SHIFT}
              THEN CAST(1 AS BIGINT) << ({E29_SHIFT} - date_diff('day', day, max_day))
              ELSE CAST(0 AS BIGINT) END AS w
  FROM daily CROSS JOIN latest
),
scored AS (
  SELECT event_type, SUM(cnt) AS n_events,
         SUM(CAST(cnt AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))) AS w_sum
  FROM weighted GROUP BY event_type
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY w_sum DESC, event_type ASC) AS INTEGER)
         AS rank,
       event_type,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(CAST(w_sum AS HUGEINT) * 1000000 // {2 ** E29_SHIFT} AS BIGINT) / 1e6 AS decayed_score
FROM scored
"""


QUERIES["e29_decayed_trending"] = e29_decayed_trending
ORACLES["e29_decayed_trending"] = ORACLE_E29


# ---------------------------------------------------------------------------
# e30 — SCD2 interval reconstruction: turn the append-only event log into
# a slowly-changing-dimension table — per user, contiguous [valid_from,
# valid_to) intervals during which the user's "status" (their latest
# event type) was constant, newest interval flagged current. The
# changelog→dimension transform every warehouse ingest needs; e14's
# latest-state compaction is the degenerate (current-row-only) case.
#
# Scale: one (user_id)-partitioned window shuffle does everything —
# change detection (lag), interval close (lead on the CHANGE rows rides
# the same partitioning, Spark reuses the exchange). No self-join, no
# range join.
# ---------------------------------------------------------------------------
def e30_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    changed = ev.withColumn("prev_type", F.lag("event_type", 1).over(w)).filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    out = changed.withColumn("valid_to", F.lead("ts", 1).over(w2))
    return out.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_from"),
        F.coalesce(
            F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
            F.lit("9999-12-31 00:00:00.000000"),
        ).alias("valid_to"),
        F.col("valid_to").isNull().alias("is_current"),
    )


ORACLE_E30 = """
WITH ordered AS (
  SELECT user_id, event_id, ts, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC) AS prev_type
  FROM events
),
changed AS (
  SELECT user_id, event_id, ts, event_type
  FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
),
intervals AS (
  SELECT user_id, event_type, ts,
         LEAD(ts) OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC) AS valid_to
  FROM changed
)
SELECT user_id,
       event_type AS status,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       COALESCE(strftime(valid_to, '%Y-%m-%d %H:%M:%S.%f'),
                '9999-12-31 00:00:00.000000') AS valid_to,
       valid_to IS NULL AS is_current
FROM intervals
"""


QUERIES["e30_scd2_intervals"] = e30_scd2_intervals
ORACLES["e30_scd2_intervals"] = ORACLE_E30


# ---------------------------------------------------------------------------
# e31 — multi-touch conversion attribution: every purchase is attributed
# to the same user's touchpoint events (click/view/signup/error) in the
# 7 days before it; per touch TYPE we report total touches credited,
# how often that type was the FIRST touch of a conversion, the LAST
# touch, and how many distinct conversions it participated in — the
# first-touch / last-touch marketing-attribution report, kept
# INTEGER-exact (no fractional "linear" credit, whose float sums are
# order-dependent across engines).
#
# Mechanism: e28's forward as-of (first_value IGNORE NULLS over the
# forward user window) pins each touch to its next purchase; a second
# window over (purchase) ranks the attribution set for first/last.
# Scale: two hash exchanges — (user_id) then (next purchase id) — both
# equi-partitioned windows, no interval self-join.
# ---------------------------------------------------------------------------
E31_WINDOW_MS = 7 * 86_400_000


def e31_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    tagged = (
        ev.withColumn(
            "type_order", F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .withColumn(
            "pid", F.when(F.col("event_type") == "purchase", F.col("event_id"))
        )
        .withColumn("pts", F.when(F.col("event_type") == "purchase", F.col("ts")))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("type_order").asc(), F.col("event_id").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = tagged.withColumn(
        "next_pid", F.first("pid", ignorenulls=True).over(w)
    ).withColumn("next_pts", F.first("pts", ignorenulls=True).over(w))
    lag_ms = F.unix_millis("next_pts") - F.unix_millis("ts")
    touches = nxt.filter(
        (F.col("event_type") != "purchase")
        & F.col("next_pid").isNotNull()
        & (lag_ms <= E31_WINDOW_MS)
    ).select("event_id", "event_type", "ts", "next_pid")
    wp = Window.partitionBy("next_pid").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ranked = (
        touches.withColumn("rn", F.row_number().over(wp))
        .withColumn("n_set", F.count(F.lit(1)).over(Window.partitionBy("next_pid")))
    )
    return ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.sum((F.col("rn") == 1).cast("long")).cast("long").alias("n_first_touch"),
        F.sum((F.col("rn") == F.col("n_set")).cast("long"))
        .cast("long")
        .alias("n_last_touch"),
        F.countDistinct("next_pid").cast("long").alias("n_conversions_touched"),
    )


ORACLE_E31 = f"""
WITH tagged AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS type_order,
         CASE WHEN event_type = 'purchase' THEN event_id END AS pid,
         CASE WHEN event_type = 'purchase' THEN ts END AS pts
  FROM events
),
nxt AS (
  SELECT *,
         first_value(pid IGNORE NULLS) OVER w AS next_pid,
         first_value(pts IGNORE NULLS) OVER w AS next_pts
  FROM tagged
  WINDOW w AS (PARTITION BY user_id
               ORDER BY ts ASC, type_order ASC, event_id ASC
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
touches AS (
  SELECT event_id, event_type, ts, next_pid
  FROM nxt
  WHERE event_type <> 'purchase' AND next_pid IS NOT NULL
    AND epoch_ms(next_pts) - epoch_ms(ts) <= {E31_WINDOW_MS}
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY next_pid
                            ORDER BY ts ASC, event_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY next_pid) AS n_set
  FROM touches
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first_touch,
       CAST(SUM(CASE WHEN rn = n_set THEN 1 ELSE 0 END) AS BIGINT) AS n_last_touch,
       CAST(COUNT(DISTINCT next_pid) AS BIGINT) AS n_conversions_touched
FROM ranked GROUP BY event_type
"""


QUERIES["e31_touch_attribution"] = e31_touch_attribution
ORACLES["e31_touch_attribution"] = ORACLE_E31


# ---------------------------------------------------------------------------
# e32 — CUSUM change-point detection: per event type, the one-sided
# upward CUSUM over the daily count series — the classic drift detector
# (Page 1954) that flags sustained level shifts a rolling z-score (e21)
# or MAD fence (e26) miss.  The recursion S_t = max(0, S_{t-1} + x_t - k)
# is not a window frame, but its closed form IS:
#     S_t = P_t - min(0, min_{j<=t} P_j),   P_t = cumsum(x_i - k),
# so two stacked prefix windows (cumsum, running min) on the SAME
# (event_type, day) ordering compute it exactly.
#
# Everything stays integer-exact and cross-engine deterministic: with
# D = n_days and T = total count per type, the slack k = mean = T/D is
# avoided by scaling all units by D — d_t = x_t*D - T is an integer, and
# prefix sums accumulate in DECIMAL(38,0) (counts×days×days can brush
# int64 at 100 TB; Spark would wrap silently, DuckDB would error — the
# documented divergence class).  Threshold h = E32_H_MULT * T (i.e.
# E32_H_MULT days' worth of mean drift).
#
# Scale: one (event_type, day) aggregate with map-side combine reduces
# the corpus to |types × days| rows; both windows and the per-type stats
# join ride ONE (event_type) hash partitioning.  Calendar-bounded state.
# ---------------------------------------------------------------------------
E32_H_MULT = 3


def e32_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "events")
        .select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_type = daily.groupBy("event_type").agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    # fixed-domain event_type: the per-type stats side is bounded.
    scored = daily.join(F.broadcast(per_type), "event_type").withColumn(
        "d",
        (
            F.col("cnt").cast("decimal(38,0)") * F.col("n_days").cast("decimal(38,0)")
            - F.col("total").cast("decimal(38,0)")
        ),
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy(F.col("day").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = (
        scored.withColumn("p", F.sum("d").over(w_cum))
        .withColumn("runmin", F.min("p").over(w_cum))
        .withColumn(
            "cusum",
            F.col("p") - F.least(F.lit(0).cast("decimal(38,0)"), F.col("runmin")),
        )
        .withColumn(
            "h",
            F.col("total").cast("decimal(38,0)") * F.lit(E32_H_MULT).cast("decimal(38,0)"),
        )
    )
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.date_format(
            F.min(F.when(F.col("cusum") > F.col("h"), F.col("day"))), "yyyy-MM-dd"
        ).alias("first_alarm_day"),
        F.sum(F.when(F.col("cusum") > F.col("h"), 1).otherwise(0))
        .cast("long")
        .alias("n_alarm_days"),
        # round-10 conversion (caught by the mechanical oracle-ROUND
        # lint, missed by the hand audit): decimal/decimal division
        # rounds its quotient to the derived scale BEFORE the cast and
        # the engines disagree at the boundary digit (the t59 finding) —
        # publish as exact truncating-DIV e4 units instead.
        (
            F.expr("MAX(cusum) * 10000 DIV MAX(n_days)") / 10_000.0
        ).alias("max_cusum"),
    )


ORACLE_E32 = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
per_type AS (
  SELECT event_type, SUM(cnt) AS total, COUNT(*) AS n_days
  FROM daily GROUP BY event_type
),
scored AS (
  SELECT d.event_type, d.day, d.cnt, p.total, p.n_days,
         CAST(d.cnt AS DECIMAL(38,0)) * CAST(p.n_days AS DECIMAL(38,0))
           - CAST(p.total AS DECIMAL(38,0)) AS d
  FROM daily d JOIN per_type p ON d.event_type = p.event_type
),
pre AS (
  SELECT *,
         SUM(d) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM scored
),
s AS (
  SELECT *,
         MIN(p) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin
  FROM pre
),
c AS (
  SELECT *,
         p - LEAST(CAST(0 AS DECIMAL(38,0)), runmin) AS cusum,
         CAST(total AS DECIMAL(38,0)) * {E32_H_MULT} AS h
  FROM s
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       strftime(MIN(CASE WHEN cusum > h THEN day END), '%Y-%m-%d')
         AS first_alarm_day,
       CAST(SUM(CASE WHEN cusum > h THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarm_days,
       (CAST(MAX(cusum) AS HUGEINT) * 10000 // MAX(n_days)) / 10000.0
         AS max_cusum
FROM c GROUP BY event_type
"""


QUERIES["e32_cusum_changepoint"] = e32_cusum_changepoint
ORACLES["e32_cusum_changepoint"] = ORACLE_E32


# ---------------------------------------------------------------------------
# e33 — activity streaks (gaps-and-islands): per user, runs of
# CONSECUTIVE active calendar days.  The canonical islands idiom — on the
# per-(user, day) distinct grid, day_number minus the per-user row_number
# is constant within a run — so streaks fall out of one partitioned
# window plus two aggregates, no self-join.  Distinct from e08 (ordinal
# gaps within a stream) and e10 (time-gap sessionization): the unit here
# is the calendar day, the output the user's engagement-streak profile.
#
# Scale: the (user_id, day) dedup aggregate collapses the corpus first;
# the row_number window, the streak aggregate and the final per-user
# rollup all ride the SAME user_id hash partitioning (one exchange,
# reused).  No unpartitioned window anywhere.
# ---------------------------------------------------------------------------
def e33_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = (
        table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .withColumn(
            "day_num",
            F.datediff(F.col("day"), F.lit("1995-01-01").cast("date")),
        )
    )
    w = Window.partitionBy("user_id").orderBy(F.col("day").asc())
    runs = days.withColumn(
        "grp", F.col("day_num") - F.row_number().over(w)
    )
    streaks = runs.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("start_day")
    )
    w_best = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("start_day").asc()
    )
    return (
        streaks.withColumn("rn", F.row_number().over(w_best))
        .groupBy("user_id")
        .agg(
            F.sum("len").cast("long").alias("active_days"),
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
            F.max(F.when(F.col("rn") == 1, F.col("len"))).cast("long")
            .alias("longest_streak"),
            F.date_format(
                F.max(F.when(F.col("rn") == 1, F.col("start_day"))), "yyyy-MM-dd"
            ).alias("longest_streak_start"),
        )
    )


ORACLE_E33 = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
runs AS (
  SELECT user_id, day,
         date_diff('day', DATE '1995-01-01', day)
           - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day ASC) AS grp
  FROM days
),
streaks AS (
  SELECT user_id, grp, COUNT(*) AS len, MIN(day) AS start_day
  FROM runs GROUP BY user_id, grp
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY len DESC, start_day ASC) AS rn
  FROM streaks
)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS active_days,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(MAX(CASE WHEN rn = 1 THEN len END) AS BIGINT) AS longest_streak,
       strftime(MAX(CASE WHEN rn = 1 THEN start_day END), '%Y-%m-%d')
         AS longest_streak_start
FROM ranked GROUP BY user_id
"""


QUERIES["e33_activity_streaks"] = e33_activity_streaks
ORACLES["e33_activity_streaks"] = ORACLE_E33


# ---------------------------------------------------------------------------
# e34 — daily retention triangle: users bucketed by their FIRST-seen
# day (the cohort), then counted again at each day of age — the classic
# product-analytics cohort matrix (q33 builds the order-based yearly
# variant; this is the event-log daily one with a fixed-age pivot and
# retention percentages).  Day numbers are pure integer datediffs, so
# cohort and age are exact integer arithmetic in both engines.
#
# Scale: first-seen day is ONE per-user aggregate; the (user, day)
# activity grid is a dedup aggregate; their join is a plain user-keyed
# equi-join (hint-free).  The (cohort, age) matrix is calendar-bounded —
# the pivot has a FIXED age list so the schema never depends on data.
# ---------------------------------------------------------------------------
E34_MAX_AGE = 7


def e34_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(
                "datediff(CAST(ts AS DATE), DATE '1995-01-01')"
            ).alias("day"),
        )
        .distinct()
    )
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    aged = (
        days.join(cohort, "user_id")
        .withColumn("age", (F.col("day") - F.col("cohort_day")).cast("int"))
        .filter(F.col("age") <= E34_MAX_AGE)
    )
    mat = (
        aged.groupBy("cohort_day")
        .pivot("age", list(range(E34_MAX_AGE + 1)))
        .agg(F.count(F.lit(1)))
        .na.fill(0, [str(a) for a in range(E34_MAX_AGE + 1)])
    )
    return mat.select(
        F.col("cohort_day").cast("long").alias("cohort_day"),
        *[
            F.col(str(a)).cast("long").alias(f"w{a}")
            for a in range(E34_MAX_AGE + 1)
        ],
        *[
            # round-10 conversion: exact integer micros with truncating
            # DIV (the ROUND(int/int, 6) form was t09-class).
            (F.expr(f"`{a}` * 1000000 DIV `0`") / 1_000_000.0).alias(f"r{a}")
            for a in range(1, E34_MAX_AGE + 1)
        ],
    )


def _oracle_e34() -> str:
    counts = ",\n       ".join(
        f"CAST(COUNT(*) FILTER (WHERE age = {a}) AS BIGINT) AS w{a}"
        for a in range(E34_MAX_AGE + 1)
    )
    ratios = ",\n       ".join(
        f"(COUNT(*) FILTER (WHERE age = {a}) * 1000000"
        f" // COUNT(*) FILTER (WHERE age = 0)) / 1000000.0 AS r{a}"
        for a in range(1, E34_MAX_AGE + 1)
    )
    return f"""
WITH days AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS day
  FROM events
),
cohort AS (
  SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id
),
aged AS (
  SELECT d.user_id, c.cohort_day,
         CAST(d.day - c.cohort_day AS INTEGER) AS age
  FROM days d JOIN cohort c ON d.user_id = c.user_id
  WHERE d.day - c.cohort_day <= {E34_MAX_AGE}
)
SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
       {counts},
       {ratios}
FROM aged GROUP BY cohort_day
"""


QUERIES["e34_retention_triangle"] = e34_retention_triangle
ORACLES["e34_retention_triangle"] = _oracle_e34()


# ---------------------------------------------------------------------------
# e35 — peak concurrency (interval occupancy): the maximum number of
# simultaneously-open sessions per day — the capacity-planning number
# behind connection pools and executor sizing.  The classic sweep-line
# (+1 at session start, −1 after end) is made distributed by bucketing
# boundaries to MINUTES first: the per-minute delta aggregate is
# map-side combinable and calendar-bounded, so the running-sum window
# that turns deltas into occupancy only ever sees one row per active
# minute (525k rows/year — bounded by wall-clock, not SF), never the
# corpus.  Sessions come from the shared e10 sessionizer.
#
# Scale: sessionizer = one (user_id) exchange; session spans = the same
# partitioning (exchange reused); boundary deltas aggregate to minutes
# (calendar-bounded); the single-partition cumsum holds minute rows
# only — the t36/t58 justification, load-bearing here.
# ---------------------------------------------------------------------------
def e35_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    sess = (
        _with_session_ids(ev)
        .groupBy("user_id", "session_id")
        .agg(
            F.expr("min(unix_millis(ts)) div 60000").alias("start_min"),
            F.expr("max(unix_millis(ts)) div 60000").alias("end_min"),
        )
    )
    deltas = sess.select(
        F.col("start_min").alias("minute"), F.lit(1).alias("d")
    ).unionAll(
        sess.select((F.col("end_min") + 1).alias("minute"), F.lit(-1).alias("d"))
    )
    per_min = deltas.groupBy("minute").agg(F.sum("d").alias("delta"))
    w = Window.orderBy("minute").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_min.withColumn("conc", F.sum("delta").over(w))
    return (
        cum.groupBy(F.expr("minute div 1440").alias("day_num"))
        .agg(
            F.max("conc").cast("long").alias("peak_concurrency"),
            F.count(F.lit(1)).cast("long").alias("n_boundary_minutes"),
        )
        .select(
            F.col("day_num").cast("long").alias("day_num"),
            "peak_concurrency",
            "n_boundary_minutes",
        )
    )


ORACLE_E35 = f"""
WITH {_sql_session_sid()},
sess AS (
  SELECT user_id, session_id,
         MIN(epoch_ms(ts)) // 60000 AS start_min,
         MAX(epoch_ms(ts)) // 60000 AS end_min
  FROM sid GROUP BY user_id, session_id
),
deltas AS (
  SELECT start_min AS minute, 1 AS d FROM sess
  UNION ALL
  SELECT end_min + 1 AS minute, -1 AS d FROM sess
),
per_min AS (SELECT minute, SUM(d) AS delta FROM deltas GROUP BY minute),
cum AS (
  SELECT minute,
         SUM(delta) OVER (ORDER BY minute
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
  FROM per_min
)
SELECT CAST(minute // 1440 AS BIGINT) AS day_num,
       CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
       CAST(COUNT(*) AS BIGINT) AS n_boundary_minutes
FROM cum GROUP BY minute // 1440
"""


QUERIES["e35_peak_concurrency"] = e35_peak_concurrency
ORACLES["e35_peak_concurrency"] = ORACLE_E35


# ---------------------------------------------------------------------------
# e36 — M4 min/max DECIMATION: downsample each (event_type, day) series
# to its first / min / max / last points — the lossless-for-rendering
# reduction (M4: Jugel et al., VLDB 2014) dashboards apply before
# plotting, and the compaction tier long-retention metric stores keep.
# Keeping argmin/argmax EVENT IDS (not just values) preserves the
# drill-down link back to the raw stream.
#
# Determinism: every selected point is a row_number()=1 under a total
# order — (value, event_id) for min/max, (ts, event_id) for first/last
# — so both engines pick identical rows even on tied values/timestamps.
#
# Scale: one (event_type, day)-partitioned exchange reused by all four
# orderings (Catalyst plans one shuffle; the sorts differ per window),
# then one map-side-combinable aggregate. Buckets = types × days —
# calendar-bounded output like e35. No driver state, no collect.
# ---------------------------------------------------------------------------
def e36_minmax_decimation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts",
        "value",
        F.expr("datediff(CAST(ts AS DATE), DATE '1995-01-01')").alias("day_num"),
    )
    part = ["event_type", "day_num"]
    rn_min = F.row_number().over(
        Window.partitionBy(*part).orderBy(F.col("value").asc(), F.col("event_id").asc())
    )
    rn_max = F.row_number().over(
        Window.partitionBy(*part).orderBy(F.col("value").desc(), F.col("event_id").asc())
    )
    rn_first = F.row_number().over(
        Window.partitionBy(*part).orderBy(F.col("ts").asc(), F.col("event_id").asc())
    )
    rn_last = F.row_number().over(
        Window.partitionBy(*part).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    )
    tagged = ev.select(
        *part,
        "event_id",
        "value",
        rn_min.alias("rn_min"),
        rn_max.alias("rn_max"),
        rn_first.alias("rn_first"),
        rn_last.alias("rn_last"),
    )
    pick = lambda rn, col: F.min(F.when(F.col(rn) == 1, F.col(col)))
    return tagged.groupBy(*part).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        pick("rn_first", "event_id").cast("long").alias("first_id"),
        pick("rn_first", "value").alias("first_value"),
        pick("rn_min", "event_id").cast("long").alias("min_id"),
        F.min("value").alias("min_value"),
        pick("rn_max", "event_id").cast("long").alias("max_id"),
        F.max("value").alias("max_value"),
        pick("rn_last", "event_id").cast("long").alias("last_id"),
        pick("rn_last", "value").alias("last_value"),
    ).select(
        "event_type",
        F.col("day_num").cast("int").alias("day_num"),
        "n_events", "first_id", "first_value", "min_id", "min_value",
        "max_id", "max_value", "last_id", "last_value",
    )


ORACLE_E36 = """
WITH tagged AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS INTEGER)
           AS day_num,
         event_id, value, ts
  FROM events
),
rn AS (
  SELECT event_type, day_num, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, day_num
                            ORDER BY value ASC, event_id ASC) AS rn_min,
         ROW_NUMBER() OVER (PARTITION BY event_type, day_num
                            ORDER BY value DESC, event_id ASC) AS rn_max,
         ROW_NUMBER() OVER (PARTITION BY event_type, day_num
                            ORDER BY ts ASC, event_id ASC) AS rn_first,
         ROW_NUMBER() OVER (PARTITION BY event_type, day_num
                            ORDER BY ts DESC, event_id DESC) AS rn_last
  FROM tagged
)
SELECT event_type, day_num,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(event_id) FILTER (WHERE rn_first = 1) AS BIGINT) AS first_id,
       MIN(value) FILTER (WHERE rn_first = 1) AS first_value,
       CAST(MIN(event_id) FILTER (WHERE rn_min = 1) AS BIGINT) AS min_id,
       MIN(value) AS min_value,
       CAST(MIN(event_id) FILTER (WHERE rn_max = 1) AS BIGINT) AS max_id,
       MAX(value) AS max_value,
       CAST(MIN(event_id) FILTER (WHERE rn_last = 1) AS BIGINT) AS last_id,
       MIN(value) FILTER (WHERE rn_last = 1) AS last_value
FROM rn GROUP BY event_type, day_num
"""


QUERIES["e36_minmax_decimation"] = e36_minmax_decimation
ORACLES["e36_minmax_decimation"] = ORACLE_E36


# ---------------------------------------------------------------------------
# e37 — SEASONAL-baseline anomalies: hour-of-week profile (the daily +
# weekly cycle every ops metric has) learned from a fixed 14-day train
# window, then every eval-period (type, day, hour) cell tested against
# its seasonal slot — the seasonality-aware sibling of e21 (trailing
# mean — blind to cycles: every Monday 9am "spikes") and e26 (MAD —
# robust but season-blind).
#
# Exactness: the mean comparison is CROSS-MULTIPLIED — the flag is
# |actual_sum·base_n − base_sum·actual_n| > T·base_n·actual_n in
# DECIMAL(38,0) integer cents (the running_zscore trick; sums reach
# 1e13 cents × counts 1e9 at 100 TB — far past int64), so no division
# order can flip a verdict. The reported means are each ONE double
# division rounded once (display only).
#
# Scale: one scan feeds both aggregates (train and eval periods are
# disjoint row sets); the baseline table is FIXED-DOMAIN (types × 168
# hour-of-week slots) regardless of SF, so the join-back is bounded —
# hint-free, AQE broadcasts it at runtime.
# ---------------------------------------------------------------------------
E37_TRAIN_DAYS = 14
E37_T_CENTS = 8000  # ~p95 of the measured hourly shift at sf0.01


def e37_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("datediff(CAST(ts AS DATE), DATE '2024-01-01')").alias("day_num"),
        # dayofweek is 1..7 (Sun..Sat) in both engines' *default*? No —
        # DuckDB dayofweek is 0..6; derive from day_num instead: events
        # start 2024-01-01 (a Monday), so dow = day_num % 7 is engine-free.
        F.expr("datediff(CAST(ts AS DATE), DATE '2024-01-01') % 7").alias("dow"),
        F.hour("ts").alias("hour"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    train = (
        ev.filter(F.col("day_num") < E37_TRAIN_DAYS)
        .groupBy("event_type", "dow", "hour")
        .agg(
            F.sum("cents").cast("decimal(38,0)").alias("base_sum"),
            F.count(F.lit(1)).cast("decimal(38,0)").alias("base_n"),
        )
    )
    ev_eval = (
        ev.filter(F.col("day_num") >= E37_TRAIN_DAYS)
        .groupBy("event_type", "day_num", "dow", "hour")
        .agg(
            F.sum("cents").cast("decimal(38,0)").alias("a_sum"),
            F.count(F.lit(1)).cast("decimal(38,0)").alias("a_n"),
        )
    )
    joined = ev_eval.join(train, ["event_type", "dow", "hour"])
    resid = F.col("a_sum") * F.col("base_n") - F.col("base_sum") * F.col("a_n")
    bound = F.lit(E37_T_CENTS).cast("decimal(38,0)") * F.col("base_n") * F.col("a_n")
    return joined.select(
        "event_type",
        F.col("day_num").cast("int").alias("day_num"),
        F.col("hour").cast("int").alias("hour"),
        F.col("a_n").cast("long").alias("n_events"),
        # round-10 conversion: the means publish as exact micros — cents
        # sums are exact decimals, so mean-in-value-units micros is
        # sum*1e4 DIV n (Spark decimal DIV == DuckDB HUGEINT //, both
        # truncating); the old ROUND(double/double, 6) was t09-class.
        (F.expr("a_sum * 10000 DIV a_n") / 1_000_000.0).alias("actual_mean"),
        (F.expr("base_sum * 10000 DIV base_n") / 1_000_000.0).alias("seasonal_mean"),
        (F.abs(resid) > bound).alias("is_anomaly"),
    )


ORACLE_E37 = f"""
WITH ev AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_num,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7 AS dow,
         EXTRACT(hour FROM ts) AS hour,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
train AS (
  SELECT event_type, dow, hour,
         CAST(SUM(cents) AS DECIMAL(38,0)) AS base_sum,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS base_n
  FROM ev WHERE day_num < {E37_TRAIN_DAYS}
  GROUP BY event_type, dow, hour
),
ev_eval AS (
  SELECT event_type, day_num, dow, hour,
         CAST(SUM(cents) AS DECIMAL(38,0)) AS a_sum,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS a_n
  FROM ev WHERE day_num >= {E37_TRAIN_DAYS}
  GROUP BY event_type, day_num, dow, hour
)
SELECT e.event_type,
       CAST(e.day_num AS INTEGER) AS day_num,
       CAST(e.hour AS INTEGER) AS hour,
       CAST(e.a_n AS BIGINT) AS n_events,
       (CAST(e.a_sum AS HUGEINT) * 10000 // CAST(e.a_n AS HUGEINT)) / 1000000.0
         AS actual_mean,
       (CAST(t.base_sum AS HUGEINT) * 10000 // CAST(t.base_n AS HUGEINT)) / 1000000.0
         AS seasonal_mean,
       ABS(e.a_sum * t.base_n - t.base_sum * e.a_n)
         > CAST({E37_T_CENTS} AS DECIMAL(38,0)) * t.base_n * e.a_n AS is_anomaly
FROM ev_eval e JOIN train t USING (event_type, dow, hour)
"""


QUERIES["e37_seasonal_anomalies"] = e37_seasonal_anomalies
ORACLES["e37_seasonal_anomalies"] = ORACLE_E37




# ---------------------------------------------------------------------------
# e38 — journey anomaly scoring: each user's event sequence priced
# against the corpus-wide first-order transition model (e22's matrix) —
# users whose adjacent-event transitions are consistently LOW-probability
# are bots, broken clients, or abuse (the application e22's docstring
# promises; this operator delivers it).  Score = Σ over a user's
# transitions of the quantized surprisal
#     bits(prev→next) = floor(log2 N(prev)) - floor(log2 N(prev→next)),
# the t30 no-libm trick (floor-log2 = binary-string length - 1): integer
# bits-of-surprise, bit-identical cross-engine, never a float log.
#
# Plan: ONE per-user lag() window (ordered by the unique event_id — ties
# impossible) feeds both the model and the scoring pass; the transition
# model is a fixed-domain aggregate (≤ |types|² = 25 rows) and joins
# back with a legitimate bounded broadcast (the t34 fixed-size-by-
# construction class).  The worklist is a global top-20 by (score desc,
# user_id) via TakeOrdered — never a global sort.
#
# Scale: one user_id shuffle for the pairs (AQE handles hot users), a
# 25-row broadcast model, a per-user aggregate, a bounded top-k.
#
# Reference parity: no analog in the reference relay (app/app.py); part
# of the LLM-pipeline extension mandate (event analytics family).
# ---------------------------------------------------------------------------
E38_TOP = 20


def e38_journey_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").asc())
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .select("user_id", F.col("event_type").alias("prev_type"), "next_type")
    )
    bits = lambda c: (F.length(F.regexp_replace(F.bin(c), "^0+", "")) - 1).cast("long")
    model = (
        pairs.groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .withColumn(
            "n_src",
            F.sum("n_pair").over(Window.partitionBy("prev_type")),
        )
        .select(
            "prev_type",
            "next_type",
            (bits(F.col("n_src")) - bits(F.col("n_pair"))).alias("surprise_bits"),
        )
    )
    scored = (
        pairs.join(F.broadcast(model), ["prev_type", "next_type"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.sum("surprise_bits").alias("total_bits"),
        )
    )
    return (
        scored.select(
            "user_id",
            F.col("n_transitions").cast("long").alias("n_transitions"),
            F.col("total_bits").cast("long").alias("total_bits"),
            F.expr("(total_bits * 1000000) div n_transitions")
            .cast("long")
            .alias("bits_per_step_ppm"),
        )
        .orderBy(F.col("bits_per_step_ppm").desc(), F.col("user_id").asc())
        .limit(E38_TOP)
    )


ORACLE_E38 = f"""
WITH pairs AS (
  SELECT user_id, event_type AS prev_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY event_id ASC)
           AS next_type
  FROM events
),
p2 AS (SELECT * FROM pairs WHERE next_type IS NOT NULL),
model AS (
  SELECT prev_type, next_type,
         (length(ltrim(bin(SUM(COUNT(*)) OVER (PARTITION BY prev_type)), '0')) - 1)
           - (length(ltrim(bin(COUNT(*)), '0')) - 1) AS surprise_bits
  FROM p2 GROUP BY prev_type, next_type
),
scored AS (
  SELECT p.user_id,
         CAST(COUNT(*) AS BIGINT) AS n_transitions,
         CAST(SUM(m.surprise_bits) AS BIGINT) AS total_bits
  FROM p2 p JOIN model m USING (prev_type, next_type)
  GROUP BY p.user_id
)
SELECT user_id, n_transitions, total_bits,
       CAST((total_bits * 1000000) // n_transitions AS BIGINT)
         AS bits_per_step_ppm
FROM scored
ORDER BY bits_per_step_ppm DESC, user_id ASC
LIMIT {E38_TOP}
"""


QUERIES["e38_journey_anomaly"] = e38_journey_anomaly
ORACLES["e38_journey_anomaly"] = ORACLE_E38


# ---------------------------------------------------------------------------
# e39 — Kaplan–Meier survival curve for signup→purchase conversion with
# RIGHT-CENSORING: e27 reports conversion latency over users who DID
# convert; that estimate is biased optimistic because users still in
# their window are silently dropped.  K-M is the standard fix — every
# signup is a subject, purchase is the event, a user whose stream ends
# without purchasing is censored at their last observed event and keeps
# contributing to the at-risk denominator until then.
#
#   S(t) = Π_{u ≤ t, d(u)>0} (n(u) − d(u)) / n(u)
#
# Cross-engine determinism: the product is held in integer MICRO-units
# with a truncating-division fold, S ← (S·(n−d)) div n — both engines
# multiply the SAME ≤ calendar-bounded sequence in the SAME order, so
# the quantized curve is bit-identical (a float cumprod would differ in
# ulps by evaluation order; `product()` doesn't even exist in Spark).
# Max intermediate is 1e6 · n_subjects < 2^63 up to ~9e12 subjects.
#
# Distributed shape: ONE user_id shuffle (a window computing first
# signup / last seen, then the per-user subject aggregate), then a
# per-duration aggregate whose key is CALENDAR-BOUNDED (≤ observation
# span in days).  The at-risk reverse cumsum, the ordering window, and
# the sequential fold all operate on that bounded table — the fold runs
# inside ONE aggregate() lambda over a ≤ span-sized sorted array, the
# e35/x24 cumsum-sees-calendar-rows-only discipline.  The DuckDB twin
# walks the same rows with a recursive CTE.
#
# Reference parity: no analog in the reference relay (app/app.py); part
# of the LLM-pipeline extension mandate (event analytics family).
# ---------------------------------------------------------------------------
def e39_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    ev2 = (
        ev.withColumn(
            "t0",
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w),
        )
        .withColumn("last_ts", F.max("ts").over(w))
        .filter(F.col("t0").isNotNull())
    )
    subjects = (
        ev2.groupBy("user_id", "t0", "last_ts")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("t0")),
                    F.col("ts"),
                )
            ).alias("tp")
        )
        .select(
            F.datediff(
                F.coalesce(F.col("tp"), F.col("last_ts")).cast("date"),
                F.col("t0").cast("date"),
            ).alias("duration"),
            F.col("tp").isNotNull().alias("observed"),
        )
    )
    per_t = subjects.groupBy("duration").agg(
        F.sum(F.when(F.col("observed"), 1).otherwise(0)).alias("d_n"),
        F.count(F.lit(1)).alias("end_n"),
    )
    # at-risk = subjects whose duration >= t: reverse cumsum over the
    # calendar-bounded per-duration table.
    risk_w = (
        Window.orderBy(F.col("duration").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    km_in = (
        per_t.withColumn("n_at_risk", F.sum("end_n").over(risk_w))
        .filter(F.col("d_n") > 0)
        .select("duration", "d_n", "n_at_risk")
    )
    folded = km_in.agg(
        F.expr(
            """
            aggregate(
              array_sort(collect_list(struct(duration, d_n, n_at_risk))),
              named_struct(
                's', CAST(1000000 AS BIGINT),
                'out',
                CAST(array() AS
                     ARRAY<STRUCT<duration:INT, d_n:BIGINT,
                                  n_at_risk:BIGINT, s:BIGINT>>)),
              (acc, x) -> named_struct(
                's', (acc.s * (x.n_at_risk - x.d_n)) div x.n_at_risk,
                'out', array_append(acc.out, named_struct(
                  'duration', x.duration, 'd_n', x.d_n,
                  'n_at_risk', x.n_at_risk,
                  's', (acc.s * (x.n_at_risk - x.d_n)) div x.n_at_risk))),
              acc -> acc.out) AS rows
            """
        )
    )
    return folded.select(F.explode("rows").alias("r")).select(
        F.col("r.duration").cast("int").alias("duration_days"),
        F.col("r.n_at_risk").cast("long").alias("n_at_risk"),
        F.col("r.d_n").cast("long").alias("n_events"),
        F.col("r.s").cast("long").alias("survival_ppm"),
    )


ORACLE_E39 = """
WITH RECURSIVE per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
         MAX(ts) AS last_ts
  FROM events GROUP BY user_id
),
signed AS (SELECT * FROM per_user WHERE t0 IS NOT NULL),
subjects AS (
  SELECT s.user_id,
         date_diff('day', CAST(s.t0 AS DATE),
                   CAST(COALESCE(p.tp, s.last_ts) AS DATE)) AS duration,
         p.tp IS NOT NULL AS observed
  FROM signed s LEFT JOIN (
    SELECT e.user_id, MIN(e.ts) AS tp
    FROM events e JOIN signed g ON e.user_id = g.user_id
    WHERE e.event_type = 'purchase' AND e.ts >= g.t0
    GROUP BY e.user_id
  ) p ON s.user_id = p.user_id
),
per_t AS (
  SELECT duration,
         SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS d_n,
         COUNT(*) AS end_n
  FROM subjects GROUP BY duration
),
at_risk AS (
  SELECT duration, d_n,
         SUM(end_n) OVER (ORDER BY duration DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS n_at_risk
  FROM per_t
),
km_rows AS (
  SELECT ROW_NUMBER() OVER (ORDER BY duration ASC) AS rn,
         duration, d_n, n_at_risk
  FROM at_risk WHERE d_n > 0
),
km AS (
  SELECT rn, duration, d_n, n_at_risk,
         (1000000 * (n_at_risk - d_n)) // n_at_risk AS s
  FROM km_rows WHERE rn = 1
  UNION ALL
  SELECT r.rn, r.duration, r.d_n, r.n_at_risk,
         (km.s * (r.n_at_risk - r.d_n)) // r.n_at_risk
  FROM km_rows r JOIN km ON r.rn = km.rn + 1
)
SELECT CAST(duration AS INTEGER) AS duration_days,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CAST(d_n AS BIGINT) AS n_events,
       CAST(s AS BIGINT) AS survival_ppm
FROM km
"""


QUERIES["e39_kaplan_meier"] = e39_kaplan_meier
ORACLES["e39_kaplan_meier"] = ORACLE_E39


# ---------------------------------------------------------------------------
# e40 — regular-grid gap filling with last-observation-carried-forward
# (the TimescaleDB `time_bucket_gapfill` + `locf` analog; the reference
# relay replays raw events — downstream dashboards need them resampled
# onto a regular grid with explicit gaps). Per event type: 15-minute
# buckets over the GLOBAL data span; a bucket's observed value is its
# LAST event's value (exchange-ordered by (ts, event_id) via one struct
# max — never a per-bucket sort); empty buckets carry the previous
# bucket's value forward and are flagged `is_gap`. Buckets before a
# type's first observation carry the -1.0 sentinel (NULL would make the
# hash comparison type-fragile).
#
# Cross-engine determinism: values fold as integer CENTS (one decimal
# cast, x31 discipline); the within-bucket "last" is a struct max on the
# unique (us, event_id) key — no float order anywhere.
#
# Scale: the observed table aggregates on the FINE (event_type, bucket)
# key with map-side combine; the grid is calendar-bounded (span-hours x
# |types|, ~10^6 rows for years of data) — the LOCF window partitions by
# event_type over GRID rows only, never corpus rows; the 1-row bounds
# aggregate broadcasts.
# ---------------------------------------------------------------------------
E40_BUCKET_US = 900_000_000  # 15 minutes


def e40_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    ).withColumn("b", F.expr(f"us DIV {E40_BUCKET_US}"))
    observed = ev.groupBy("event_type", "b").agg(
        F.max(F.struct("us", "event_id", "cents"))["cents"].alias("close_cents")
    )
    bounds = ev.agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("b")
    )
    w = Window.partitionBy("event_type").orderBy("b")
    filled = (
        grid.join(observed, ["event_type", "b"], "left")
        .withColumn("locf", F.last("close_cents", ignorenulls=True).over(w))
    )
    return filled.select(
        "event_type",
        F.date_format(
            F.timestamp_seconds(F.col("b") * (E40_BUCKET_US // 1_000_000)),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("bucket_start"),
        F.round(F.coalesce(F.col("locf"), F.lit(-100)).cast("double") / 100.0, 2).alias(
            "close_value"
        ),
        F.col("close_cents").isNull().alias("is_gap"),
    )


ORACLE_E40 = f"""
WITH ev AS (
  SELECT event_type, event_id, epoch_us(ts) AS us,
         CAST(CAST(ROUND(value, 2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         epoch_us(ts) // {E40_BUCKET_US} AS b
  FROM events
),
observed AS (
  SELECT event_type, b, cents AS close_cents
  FROM (SELECT event_type, b, cents,
               ROW_NUMBER() OVER (PARTITION BY event_type, b
                                  ORDER BY us DESC, event_id DESC) AS rn
        FROM ev)
  WHERE rn = 1
),
bounds AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM ev),
grid AS (
  SELECT t.event_type, unnest(range(bounds.lo, bounds.hi + 1)) AS b
  FROM (SELECT DISTINCT event_type FROM ev) t
  CROSS JOIN bounds
),
filled AS (
  SELECT g.event_type, g.b, o.close_cents,
         last_value(o.close_cents IGNORE NULLS) OVER (
           PARTITION BY g.event_type ORDER BY g.b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
  FROM grid g LEFT JOIN observed o
    ON g.event_type = o.event_type AND g.b = o.b
)
SELECT event_type,
       strftime(make_timestamp(b * {E40_BUCKET_US}), '%Y-%m-%d %H:%M:%S')
         AS bucket_start,
       ROUND(CAST(COALESCE(locf, -100) AS DOUBLE) / 100.0, 2) AS close_value,
       close_cents IS NULL AS is_gap
FROM filled
"""


QUERIES["e40_gapfill_locf"] = e40_gapfill_locf
ORACLES["e40_gapfill_locf"] = ORACLE_E40


# ---------------------------------------------------------------------------
# e41 — time-weighted average (TWAP): per event type, the average of
# `value` weighted by HOW LONG each observation was the current one
# (each event's value holds from its timestamp to the next event's),
# next to the naive per-event mean it corrects. The canonical financial/
# metering aggregate; a burst of cheap readings no longer drags the
# average the way it drags the naive mean.
#
# Scale — segmented integration with boundary stitching: a single
# per-type window would funnel a type's ENTIRE history into one task
# (the q52-class trap), so the integral splits into (a) intra-day
# segments on the FINE (event_type, day) window and (b) cross-boundary
# segments (a day's last observation held until the NEXT OBSERVED day's
# first event) on a window over the calendar-bounded per-day summary.
# The segments partition [first, last] exactly — the sum equals the
# single-window formulation the oracle uses.
#
# Cross-engine determinism: integer cents x integer microsecond
# durations folded in DECIMAL(38,0) (cents*span overflows int64 at
# design scale); day-edge picks are struct min/max on the unique
# (us, event_id) key; one double division at the output boundary.
# ---------------------------------------------------------------------------
def e41_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.to_date("ts").alias("day"),
        F.unix_micros("ts").alias("us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    w_day = Window.partitionBy("event_type", "day").orderBy("us", "event_id")
    seg = ev.withColumn("nxt_us", F.lead("us").over(w_day))
    daily = seg.groupBy("event_type", "day").agg(
        F.sum(
            (F.col("cents").cast("decimal(38,0)"))
            * (F.col("nxt_us") - F.col("us")).cast("decimal(38,0)")
        ).alias("intra_vt"),
        F.sum(F.col("nxt_us") - F.col("us")).alias("intra_dur"),
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("cents").alias("cents_sum"),
        F.min(F.struct("us", "event_id"))["us"].alias("first_us"),
        F.max(F.struct("us", "event_id", "cents"))["cents"].alias("last_cents"),
        F.max(F.struct("us", "event_id"))["us"].alias("last_us"),
    )
    w_cal = Window.partitionBy("event_type").orderBy("day")
    stitched = daily.withColumn("next_first_us", F.lead("first_us").over(w_cal))
    return (
        stitched.groupBy("event_type")
        .agg(
            F.sum("n_obs").alias("n_obs"),
            (
                F.sum(F.coalesce(F.col("intra_vt"), F.lit(0).cast("decimal(38,0)")))
                + F.sum(
                    F.when(
                        F.col("next_first_us").isNotNull(),
                        F.col("last_cents").cast("decimal(38,0)")
                        * (F.col("next_first_us") - F.col("last_us")).cast(
                            "decimal(38,0)"
                        ),
                    )
                )
            ).alias("vt"),
            (
                F.sum(F.coalesce(F.col("intra_dur"), F.lit(0)))
                + F.sum(
                    F.when(
                        F.col("next_first_us").isNotNull(),
                        F.col("next_first_us") - F.col("last_us"),
                    )
                )
            ).alias("dur_us"),
            F.sum("cents_sum").alias("cents_sum"),
        )
        .select(
            "event_type",
            F.col("n_obs").cast("long").alias("n_obs"),
            F.col("dur_us").cast("long").alias("span_us"),
            # round-10 conversion: exact value-unit micros via truncating
            # decimal DIV (vt is cents·us in decimal(38,0); ×1e4 = micros
            # of the value mean) — the old ROUND(double quotient, 4) was
            # t09-class. The streaming twin's twap_milli is the same
            # integral at milli precision.
            (F.expr("vt * 10000 DIV dur_us") / 1_000_000.0).alias("twap"),
            (F.expr("CAST(cents_sum AS DECIMAL(38,0)) * 10000 DIV n_obs") / 1_000_000.0).alias(
                "naive_mean"
            ),
        )
    )


ORACLE_E41 = """
WITH ev AS (
  SELECT event_type, event_id, epoch_us(ts) AS us,
         CAST(CAST(ROUND(value, 2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
),
seq AS (
  SELECT event_type, cents, us,
         LEAD(us) OVER (PARTITION BY event_type
                        ORDER BY us ASC, event_id ASC) AS nxt_us
  FROM ev
)
SELECT event_type,
       COUNT(*) AS n_obs,
       CAST(SUM(nxt_us - us) AS BIGINT) AS span_us,
       (CAST(SUM(CAST(cents AS HUGEINT) * CAST(nxt_us - us AS HUGEINT)) AS HUGEINT)
             * 10000 // CAST(SUM(nxt_us - us) AS HUGEINT)) / 1000000.0 AS twap,
       (CAST(SUM(cents) AS HUGEINT) * 10000 // COUNT(*)) / 1000000.0
         AS naive_mean
FROM seq
GROUP BY event_type
"""


QUERIES["e41_time_weighted_avg"] = e41_time_weighted_avg
ORACLES["e41_time_weighted_avg"] = ORACLE_E41


# ---------------------------------------------------------------------------
# e42 — watermark lateness audit: how out-of-order would this stream be
# at the consumer? Ingest order is simulated as event time plus a
# deterministic per-event arrival jitter (0..10 min — the multi-partition
# consumer interleave a real broker produces; the affine hash is the x13
# family, every product < 2^63). An event's lateness is the high-water
# mark of everything that ARRIVED before it minus its own event time —
# exactly what a streaming watermark sees — bucketed on the exact
# floor(log2) scale (the t22 bits trick, no libm). The readout that
# tunes `withWatermark` retention for every streaming operator in
# streaming/aggregates.py.
#
# Scale — two-level running max, no corpus-wide window: the running
# high-water mark over arrival order decomposes into (a) an intra-hour
# window partitioned by the CALENDAR arrival hour and (b) a prefix max
# over the per-hour summary (calendar-bounded rows). greatest(intra,
# prefix-of-previous-hours) == the global running max, exactly.
#
# Cross-engine determinism: all integer microseconds; arrival order is
# the total (arrival_us, event_id); buckets are binary-string lengths.
# ---------------------------------------------------------------------------
E42_P = 1_000_000_007
E42_A = 611592793
E42_B = 179424673
E42_JITTER_US = 600_000_000  # arrival delay in [0, 10 min)
E42_HOUR_US = 3_600_000_000


def e42_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    ).withColumn(
        "a_us",
        F.col("us")
        + ((F.col("event_id") % E42_P) * E42_A + E42_B) % E42_P % E42_JITTER_US,
    ).withColumn("a_hour", F.expr(f"a_us DIV {E42_HOUR_US}"))
    w_in = (
        Window.partitionBy("a_hour")
        .orderBy("a_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    intra = ev.withColumn("hwm_in", F.max("us").over(w_in))
    hours = ev.groupBy("a_hour").agg(F.max("us").alias("h_max"))
    w_pre = Window.orderBy("a_hour").rowsBetween(Window.unboundedPreceding, -1)
    prefix = hours.withColumn("hwm_pre", F.max("h_max").over(w_pre)).select(
        "a_hour", "hwm_pre"
    )
    scored = intra.join(prefix, "a_hour").select(
        "event_type",
        F.greatest(
            F.coalesce(F.col("hwm_in"), F.lit(-1)),
            F.coalesce(F.col("hwm_pre"), F.lit(-1)),
        ).alias("hwm"),
        "us",
    ).withColumn(
        "late_us", F.greatest(F.lit(0), F.col("hwm") - F.col("us"))
    ).withColumn(
        "late_bits",
        F.when(F.col("late_us") == 0, F.lit(-1)).otherwise(
            (F.length(F.regexp_replace(F.bin("late_us"), "^0+", "")) - 1).cast(
                "int"
            )
        ),
    )
    return (
        scored.groupBy("event_type", "late_bits")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.expr("late_us DIV 1000")).alias("max_late_ms"),
        )
        .select(
            "event_type",
            F.col("late_bits").cast("int").alias("late_bits"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("max_late_ms").cast("long").alias("max_late_ms"),
        )
    )


ORACLE_E42 = f"""
WITH ev AS (
  SELECT event_id, event_type, epoch_us(ts) AS us,
         epoch_us(ts)
           + ((event_id % {E42_P}) * {E42_A} + {E42_B}) % {E42_P}
             % {E42_JITTER_US} AS a_us
  FROM events
),
scored AS (
  SELECT event_type, us,
         GREATEST(0, COALESCE(MAX(us) OVER (
             ORDER BY a_us ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) - us)
           AS late_us
  FROM ev
)
SELECT event_type,
       CAST(CASE WHEN late_us = 0 THEN -1
                 ELSE length(bin(late_us)) - 1 END AS INTEGER) AS late_bits,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(late_us // 1000) AS BIGINT) AS max_late_ms
FROM scored
GROUP BY 1, 2
"""


QUERIES["e42_watermark_lateness"] = e42_watermark_lateness
ORACLES["e42_watermark_lateness"] = ORACLE_E42


# ---------------------------------------------------------------------------
# e43 — point-in-time (PIT) feature join: every purchase event joined to
# the user's STATUS that was valid AT THAT MOMENT — the feature-store
# correctness primitive (training a model on the status as-of-now
# instead of as-of-the-event is label leakage). The dimension is e30's
# SCD2 changelog (a user's status = their latest event type); a probe
# must match the interval containing it, never a later one.
#
# Scale — no range join, no interval explosion: the classic union trick
# (e11's as-of discipline) generalized to an SCD2 dimension. Status
# CHANGE rows and purchase PROBE rows union into one stream; a single
# (user_id) fine-keyed window ordered by (us, event_id, is_probe DESC)
# with last(ignorenulls) carries the current status onto each probe.
# The probe sorts BEFORE its own event's change row (a purchase is
# itself a status change — seeing it would be self-leakage, the exact
# bug PIT joins exist to prevent): each purchase reads the status from
# STRICTLY EARLIER events only.
#
# Cross-engine determinism: pure integer microseconds + strings; the
# oracle reproduces the same union-window walk (DuckDB's ASOF JOIN
# rounds ties differently, so the oracle mirrors the exact window).
# ---------------------------------------------------------------------------
def e43_pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    # SCD2 change rows (e30's change detection): rows where the user's
    # status differs from their previous event.
    w_u = Window.partitionBy("user_id").orderBy("us", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type", 1).over(w_u))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select(
            "user_id",
            "us",
            F.lit(0).alias("is_probe"),
            "event_id",
            F.col("event_type").alias("status"),
            F.lit(None).cast("long").alias("probe_id"),
        )
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "us",
        F.lit(1).alias("is_probe"),
        "event_id",
        F.lit(None).cast("string").alias("status"),
        F.col("event_id").alias("probe_id"),
    )
    merged = changes.unionByName(probes)
    w_pit = Window.partitionBy("user_id").orderBy(
        F.col("us").asc(), F.col("event_id").asc(), F.col("is_probe").desc()
    )
    joined = merged.withColumn(
        "pit_status", F.last("status", ignorenulls=True).over(w_pit)
    ).filter(F.col("is_probe") == 1)
    return joined.select(
        F.col("probe_id").alias("purchase_id"),
        "user_id",
        F.col("us").alias("purchase_us"),
        F.coalesce(F.col("pit_status"), F.lit("none")).alias("status_at_purchase"),
    )


ORACLE_E43 = """
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
changes AS (
  SELECT user_id, us, 0 AS is_probe, event_id, event_type AS status,
         CAST(NULL AS BIGINT) AS probe_id
  FROM (
    SELECT *, LAG(event_type) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id) AS prev_type
    FROM ev
  ) WHERE prev_type IS NULL OR prev_type <> event_type
),
probes AS (
  SELECT user_id, us, 1 AS is_probe, event_id,
         CAST(NULL AS VARCHAR) AS status, event_id AS probe_id
  FROM ev WHERE event_type = 'purchase'
),
merged AS (
  SELECT * FROM changes UNION ALL SELECT * FROM probes
),
walked AS (
  SELECT *,
         last_value(status IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY us ASC, event_id ASC, is_probe DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pit_status
  FROM merged
)
SELECT probe_id AS purchase_id, user_id, us AS purchase_us,
       COALESCE(pit_status, 'none') AS status_at_purchase
FROM walked WHERE is_probe = 1
"""


QUERIES["e43_pit_feature_join"] = e43_pit_feature_join
ORACLES["e43_pit_feature_join"] = ORACLE_E43


# ---------------------------------------------------------------------------
# e44 — interval coverage (merge overlapping intervals): each event
# opens a 5-minute activity interval [ts, ts+5m); overlapping intervals
# per user merge into maximal COVERAGE SPANS — the classic uptime/
# activity-coverage primitive (SLA "covered minutes", multi-device
# session splicing, sensor dead-time). Output: per user, each merged
# span with how many raw intervals it absorbed, plus the covered
# microseconds — the number naive per-event summing over-counts
# whenever intervals overlap.
#
# Scale — the textbook sweep as TWO fine-keyed windows, no self-join:
# (1) running max of interval ends per user (ordered by start): a new
# island starts exactly where start > max(all previous ends); (2) a
# running sum of the island flags labels each row's span. Both windows
# ride ONE (user_id) exchange (fine key — thousands of rows per user,
# never a corpus partition); the per-span rollup is a plain aggregate.
#
# Cross-engine determinism: pure integer microseconds; island labels
# are integer running sums over a total (start, event_id) order.
# ---------------------------------------------------------------------------
E44_INTERVAL_US = 300_000_000  # each event covers [ts, ts + 5 min)


def e44_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + E44_INTERVAL_US).alias("e"),
    )
    w_order = Window.partitionBy("user_id").orderBy("s", "event_id")
    w_prev = w_order.rowsBetween(Window.unboundedPreceding, -1)
    flagged = ev.withColumn("prev_max_e", F.max("e").over(w_prev)).withColumn(
        "new_island",
        (
            F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e"))
        ).cast("int"),
    )
    labeled = flagged.withColumn("island", F.sum("new_island").over(w_order))
    return (
        labeled.groupBy("user_id", "island")
        .agg(
            F.min("s").alias("span_start_us"),
            F.max("e").alias("span_end_us"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .select(
            "user_id",
            F.col("island").cast("long").alias("span_no"),
            F.col("span_start_us").cast("long").alias("span_start_us"),
            F.col("span_end_us").cast("long").alias("span_end_us"),
            (F.col("span_end_us") - F.col("span_start_us")).alias("covered_us"),
            F.col("n_intervals").cast("long").alias("n_intervals"),
        )
    )


ORACLE_E44 = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + {E44_INTERVAL_US} AS e
  FROM events
),
flagged AS (
  SELECT *,
         CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM ev
),
labeled AS (
  SELECT *, SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)
SELECT user_id,
       CAST(island AS BIGINT) AS span_no,
       CAST(MIN(s) AS BIGINT) AS span_start_us,
       CAST(MAX(e) AS BIGINT) AS span_end_us,
       CAST(MAX(e) - MIN(s) AS BIGINT) AS covered_us,
       CAST(COUNT(*) AS BIGINT) AS n_intervals
FROM labeled
GROUP BY user_id, island
"""


QUERIES["e44_interval_coverage"] = e44_interval_coverage
ORACLES["e44_interval_coverage"] = ORACLE_E44


# ---------------------------------------------------------------------------
# e45 — metric correlation matrix: Pearson correlation between every
# PAIR of event types' hourly count series — the incident-correlation /
# "which metrics move together" readout (errors spiking with clicks is
# a capacity smell; purchases decoupling from views is a funnel break).
#
# Scale: the corpus folds ONCE to the calendar-bounded (type, hour)
# count table; the type-pair self-join and every moment after it run on
# that reduced table (|types| x hours rows — thousands, not billions).
# Missing (type, hour) cells are true zeros: both series densify over
# the GLOBAL hour span (the e40 grid discipline) so the correlation is
# over aligned series, not inner-joined nonzero hours.
#
# Cross-engine determinism: counts are integers; all five pooled
# moments fold as DECIMAL(38,0); r^2 and r come from fixed-order double
# expressions over those scale-0 integers (sign via integer compare).
# ---------------------------------------------------------------------------
def e45_metric_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.unix_micros("ts") / 3_600_000_000).alias("h")
    )
    counts = ev.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("c"))
    bounds = ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("h")
    )
    dense = grid.join(counts, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    a = dense.select(
        F.col("event_type").alias("type_a"), "h", F.col("c").alias("ca")
    )
    b = dense.select(
        F.col("event_type").alias("type_b"), "h", F.col("c").alias("cb")
    )
    paired = a.join(b, "h").filter(F.col("type_a") < F.col("type_b"))
    d = lambda c: F.col(c).cast("decimal(38,0)")
    m = paired.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d("ca")).alias("sa"),
        F.sum(d("cb")).alias("sb"),
        F.sum(d("ca") * d("ca")).alias("qa"),
        F.sum(d("cb") * d("cb")).alias("qb"),
        F.sum(d("ca") * d("cb")).alias("sab"),
    )
    dbl = lambda c: F.col(c).cast("double")
    cov_n = dbl("n") * dbl("sab") - dbl("sa") * dbl("sb")
    var_a = dbl("n") * dbl("qa") - dbl("sa") * dbl("sa")
    var_b = dbl("n") * dbl("qb") - dbl("sb") * dbl("sb")
    # r = cov / sqrt(var_a * var_b): sqrt is correctly-rounded IEEE —
    # portable (the t27 rule: sqrt OK, log/pow not). Published via
    # floor_scaled (round-10 conversion: sqrt has no integer form and
    # ROUND of the same double is procedure-asymmetric across engines).
    from ..functions.numeric import floor_scaled

    r = cov_n / F.sqrt(var_a * var_b)
    return m.select(
        "type_a",
        "type_b",
        F.col("n").cast("long").alias("n_hours"),
        floor_scaled(r, 6).alias("pearson_r"),
        (r > 0.5).alias("strongly_coupled"),
    )


ORACLE_E45 = """
WITH ev AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h FROM events
),
counts AS (
  SELECT event_type, h, COUNT(*) AS c FROM ev GROUP BY 1, 2
),
bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM ev),
grid AS (
  SELECT t.event_type, unnest(range(bounds.lo, bounds.hi + 1)) AS h
  FROM (SELECT DISTINCT event_type FROM ev) t CROSS JOIN bounds
),
dense AS (
  SELECT g.event_type, g.h, COALESCE(c.c, 0) AS c
  FROM grid g LEFT JOIN counts c
    ON g.event_type = c.event_type AND g.h = c.h
),
paired AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.c AS ca, b.c AS cb
  FROM dense a JOIN dense b ON a.h = b.h AND a.event_type < b.event_type
),
m AS (
  SELECT type_a, type_b, COUNT(*) AS n,
         SUM(CAST(ca AS HUGEINT)) AS sa, SUM(CAST(cb AS HUGEINT)) AS sb,
         SUM(CAST(ca AS HUGEINT) * ca) AS qa,
         SUM(CAST(cb AS HUGEINT) * cb) AS qb,
         SUM(CAST(ca AS HUGEINT) * cb) AS sab
  FROM paired GROUP BY 1, 2
),
rr AS (
  SELECT type_a, type_b, n,
         (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
          - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
         / SQRT((CAST(n AS DOUBLE) * CAST(qa AS DOUBLE)
                 - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(qb AS DOUBLE)
                   - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))) AS r
  FROM m
)
SELECT type_a, type_b, CAST(n AS BIGINT) AS n_hours,
       (FLOOR(r * 1000000.0) / 1000000.0 + 0.0) AS pearson_r,
       r > 0.5 AS strongly_coupled
FROM rr
"""


QUERIES["e45_metric_correlation"] = e45_metric_correlation
ORACLES["e45_metric_correlation"] = ORACLE_E45


# ---------------------------------------------------------------------------
# e46 — seasonal-naive forecastability (MASE): forecast each hour of
# the stream's FINAL day as the same hour one week earlier and score
# the result with the Mean Absolute Scaled Error — the standard
# forecast-quality number (MASE > 1 means the final day was harder to
# predict than a typical train-period day; >> 1 flags an anomalous
# day before anyone ships a forecast model). The evaluation harness a
# forecasting pipeline needs BEFORE any model: if seasonal-naive MASE
# is ~1, the series is boring-predictable and a model is overkill.
#
# Cross-engine determinism: hourly counts are integers on the dense
# calendar grid (missing hours are true zeros — the e40 discipline);
# absolute errors and both MASE terms are exact integers; the final
# ratio is one truncating micro DIV.
#
# Scale: one corpus fold to (type, hour); the lag join is an equi-join
# on (type, h-168) over the calendar-bounded dense grid; two bounded
# aggregates end it.
# ---------------------------------------------------------------------------
E46_SEASON_H = 168  # weekly seasonality, hourly grid
E46_MASE_OK_MICRO = 1_500_000  # final day forecastable if MASE <= 1.5


def e46_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.unix_micros("ts") / 3_600_000_000).alias("h")
    )
    counts = ev.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("c"))
    bounds = ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("h"), "lo", "hi"
    )
    dense = grid.join(counts, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        "lo",
        "hi",
        F.coalesce(F.col("c"), F.lit(0)).alias("c"),
    )
    lagged = dense.alias("now").join(
        dense.select(
            F.col("event_type").alias("event_type"),
            (F.col("h") + E46_SEASON_H).alias("h"),
            F.col("c").alias("c_lag"),
        ),
        ["event_type", "h"],
    )
    scored = lagged.select(
        "event_type",
        "h",
        "hi",
        F.abs(F.col("c") - F.col("c_lag")).alias("abs_err"),
        (F.col("h") > F.col("hi") - 24).cast("int").alias("is_test"),
    )
    agg = scored.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_test") == 1, F.col("abs_err"))).alias("test_err"),
        F.sum(F.when(F.col("is_test") == 1, 1).otherwise(0)).alias("n_test"),
        F.sum(F.when(F.col("is_test") == 0, F.col("abs_err"))).alias("train_err"),
        F.sum(F.when(F.col("is_test") == 0, 1).otherwise(0)).alias("n_train"),
    )
    mase_micro = F.expr(
        "CAST(test_err * n_train AS DECIMAL(38,0)) * 1000000"
        " DIV CAST(train_err * n_test AS DECIMAL(38,0))"
    )
    return agg.select(
        "event_type",
        F.col("n_test").cast("long").alias("n_test_hours"),
        F.col("test_err").cast("long").alias("test_abs_err"),
        F.col("train_err").cast("long").alias("train_abs_err"),
        mase_micro.cast("long").alias("mase_micro"),
        (mase_micro <= E46_MASE_OK_MICRO).alias("forecastable"),
    )


ORACLE_E46 = f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h FROM events
),
counts AS (SELECT event_type, h, COUNT(*) AS c FROM ev GROUP BY 1, 2),
bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM ev),
grid AS (
  SELECT t.event_type, unnest(range(bounds.lo, bounds.hi + 1)) AS h,
         bounds.lo AS lo, bounds.hi AS hi
  FROM (SELECT DISTINCT event_type FROM ev) t CROSS JOIN bounds
),
dense AS (
  SELECT g.event_type, g.h, g.lo, g.hi, COALESCE(c.c, 0) AS c
  FROM grid g LEFT JOIN counts c
    ON g.event_type = c.event_type AND g.h = c.h
),
lagged AS (
  SELECT n.event_type, n.h, n.hi, ABS(n.c - l.c) AS abs_err,
         CASE WHEN n.h > n.hi - 24 THEN 1 ELSE 0 END AS is_test
  FROM dense n JOIN dense l
    ON n.event_type = l.event_type AND n.h = l.h + {E46_SEASON_H}
),
agg AS (
  SELECT event_type,
         SUM(CASE WHEN is_test = 1 THEN abs_err END) AS test_err,
         SUM(CASE WHEN is_test = 1 THEN 1 ELSE 0 END) AS n_test,
         SUM(CASE WHEN is_test = 0 THEN abs_err END) AS train_err,
         SUM(CASE WHEN is_test = 0 THEN 1 ELSE 0 END) AS n_train
  FROM lagged GROUP BY event_type
)
SELECT event_type,
       CAST(n_test AS BIGINT) AS n_test_hours,
       CAST(test_err AS BIGINT) AS test_abs_err,
       CAST(train_err AS BIGINT) AS train_abs_err,
       CAST(CAST(test_err AS HUGEINT) * n_train * 1000000
            // (CAST(train_err AS HUGEINT) * n_test) AS BIGINT) AS mase_micro,
       CAST(test_err AS HUGEINT) * n_train * 1000000
         // (CAST(train_err AS HUGEINT) * n_test) <= {E46_MASE_OK_MICRO}
         AS forecastable
FROM agg
"""


QUERIES["e46_seasonal_naive_mase"] = e46_seasonal_naive_mase
ORACLES["e46_seasonal_naive_mase"] = ORACLE_E46


# ---------------------------------------------------------------------------
# e47 — peak request rate per user: the maximum number of events any
# user produced in any 60-second window — the number that SIZES a rate
# limiter (and the audit that finds who would trip it). Semantics are
# second-resolution: windows are [sec-59, sec] over whole seconds,
# evaluated at every occupied second.
#
# Scale — NO pair join: the naive per-event interval join (count
# neighbors within 60 s of every event) goes quadratic on exactly the
# hot-minute users this query exists to find (1e6 events in a minute =
# 1e12 pairs). Instead the corpus folds to per-(user, second) counts
# first, and the sliding sum is ONE integer RANGE frame (59 PRECEDING)
# per user over those occupied-second rows — bounded by the user's
# active seconds, never by their event count. The per-user argmax rides
# the same exchange.
#
# Cross-engine determinism: pure integer seconds/counts; the peak pick
# is (rate DESC, sec ASC) — a total order.
# ---------------------------------------------------------------------------
E47_WINDOW_S = 60


def e47_peak_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_micros(ts) DIV 1000000").alias("sec")
    )
    per_sec = ev.groupBy("user_id", "sec").agg(F.count(F.lit(1)).alias("c"))
    w_slide = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-(E47_WINDOW_S - 1), 0)
    )
    rated = per_sec.withColumn("rate60", F.sum("c").over(w_slide))
    w_pick = Window.partitionBy("user_id").orderBy(
        F.col("rate60").desc(), F.col("sec").asc()
    )
    return (
        rated.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("rate60").cast("long").alias("peak_per_min"),
            F.col("sec").cast("long").alias("peak_at_sec"),
        )
    )


ORACLE_E47 = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS sec FROM events
),
per_sec AS (
  SELECT user_id, sec, COUNT(*) AS c FROM ev GROUP BY 1, 2
),
rated AS (
  SELECT user_id, sec,
         SUM(c) OVER (PARTITION BY user_id ORDER BY sec
                      RANGE BETWEEN {E47_WINDOW_S - 1} PRECEDING
                            AND CURRENT ROW) AS rate60
  FROM per_sec
),
picked AS (
  SELECT user_id, rate60, sec,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY rate60 DESC, sec ASC) AS rn
  FROM rated
)
SELECT user_id,
       CAST(rate60 AS BIGINT) AS peak_per_min,
       CAST(sec AS BIGINT) AS peak_at_sec
FROM picked WHERE rn = 1
"""


QUERIES["e47_peak_rate"] = e47_peak_rate
ORACLES["e47_peak_rate"] = ORACLE_E47


# ---------------------------------------------------------------------------
# e48 — bitmap retention curve: classic N-day retention computed through
# per-user activity BITMASKS (the roaring-bitmap trick, scalar-sized).
# Each user's activity collapses to ONE BIGINT — bit d set iff the user
# was active d days after their own first event — so the retention
# question "active in week w?" becomes a bitwise AND against a constant
# mask instead of a per-(user, week) join or re-scan. Per-user state is
# 8 bytes regardless of event volume, the canonical engagement-analytics
# representation at warehouse scale.
#
# Plan: distinct (user, day) [one shuffle], first-day aggregate + join
# both keyed on user_id (exchange reuse), bit_or mask aggregate, then a
# constant 9-row week explode and one final small aggregate. No window
# functions, nothing keyed wider than user_id.
#
# Cross-engine determinism: masks are exact BIGINT bit math (shifts
# capped at bit 62 — never the sign bit); retention is integer ppm via
# truncating division.
# ---------------------------------------------------------------------------
E48_WEEKS = 9  # weeks 0..8 cover activity days 0..62 (bits 0..62)


def e48_retention_bitmaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = (
        table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", "ts").alias("d"))
        .distinct()
    )
    firsts = days.groupBy("user_id").agg(F.min("d").alias("d0"))
    nums = (
        days.join(firsts, "user_id")
        .select("user_id", F.datediff("d", "d0").alias("day_num"))
        .filter(F.col("day_num") < 63)
    )
    masks = nums.groupBy("user_id").agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(day_num AS INT)))"
        ).alias("mask")
    )
    week_structs = F.array(
        *[
            F.struct(
                F.lit(w).cast("long").alias("week"),
                (
                    F.col("mask").bitwiseAND(F.lit(127 << (7 * w))) != 0
                ).alias("active"),
            )
            for w in range(E48_WEEKS)
        ]
    )
    exploded = masks.select(F.explode(week_structs).alias("s")).select("s.*")
    return (
        exploded.groupBy("week")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cohort"),
            F.sum(F.col("active").cast("int")).cast("long").alias("n_active"),
        )
        .withColumn(
            "retained_ppm", F.expr("n_active * 1000000 DIV n_cohort")
        )
    )


ORACLE_E48 = f"""
WITH days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
),
firsts AS (SELECT user_id, MIN(d) AS d0 FROM days GROUP BY user_id),
nums AS (
  SELECT d.user_id, date_diff('day', f.d0, d.d) AS day_num
  FROM days d JOIN firsts f USING (user_id)
  WHERE date_diff('day', f.d0, d.d) < 63
),
masks AS (
  SELECT user_id, bit_or(1::BIGINT << CAST(day_num AS INTEGER)) AS mask
  FROM nums GROUP BY user_id
),
weeks AS (SELECT CAST(u.w AS BIGINT) AS week FROM unnest(range(0, {E48_WEEKS})) AS u(w))
SELECT w.week,
       CAST(COUNT(*) AS BIGINT) AS n_cohort,
       CAST(SUM(CASE WHEN (m.mask & (127::BIGINT << CAST(7 * w.week AS INTEGER))) != 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
       CAST(SUM(CASE WHEN (m.mask & (127::BIGINT << CAST(7 * w.week AS INTEGER))) != 0
                THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS retained_ppm
FROM masks m CROSS JOIN weeks w GROUP BY w.week
"""


QUERIES["e48_retention_bitmaps"] = e48_retention_bitmaps
ORACLES["e48_retention_bitmaps"] = ORACLE_E48


# ---------------------------------------------------------------------------
# e49 — at-least-once duplicate audit: consecutive events from the same
# user with the same type, identical value, and interarrival <= 5 s are
# the signature of producer retries / at-least-once delivery — the data
# bug every idempotency layer exists to hide, quantified per event type
# so the fix can be prioritized. (The reference's relay is at-least-once
# on reconnect — SURVEY §4's replay semantics — so the downstream audit
# is part of the capability surface.)
#
# Plan: ONE lag window per user (hashpartitioning(user_id) — the e08
# gap-detection shape), then a fixed-domain event_type aggregate.
# Determinism: interarrival compared in exact integer microseconds;
# value equality is bit-exact double comparison in both engines; ppm by
# truncating DIV.
# ---------------------------------------------------------------------------
E49_DUP_WINDOW_US = 5_000_000  # retry window: 5 s


def e49_duplicate_event_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    lagged = ev.select(
        "event_type",
        (
            (F.col("event_type") == F.lag("event_type").over(w))
            & (F.col("value") == F.lag("value").over(w))
            & (F.col("us") - F.lag("us").over(w) <= E49_DUP_WINDOW_US)
        ).alias("is_dup"),
    )
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.coalesce(F.col("is_dup").cast("int"), F.lit(0)))
            .cast("long")
            .alias("n_suspect_dups"),
        )
        .withColumn(
            "dup_ppm", F.expr("n_suspect_dups * 1000000 DIV n_events")
        )
    )


ORACLE_E49 = f"""
WITH ev AS (
  SELECT user_id, event_type, value,
         epoch_us(ts) AS us, event_id
  FROM events
),
lagged AS (
  SELECT event_type,
         (event_type = LAG(event_type) OVER w
          AND value = LAG(value) OVER w
          AND us - LAG(us) OVER w <= {E49_DUP_WINDOW_US}) AS is_dup
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(COALESCE(CAST(is_dup AS INTEGER), 0)) AS BIGINT)
         AS n_suspect_dups,
       CAST(SUM(COALESCE(CAST(is_dup AS INTEGER), 0)) * 1000000 // COUNT(*)
            AS BIGINT) AS dup_ppm
FROM lagged GROUP BY event_type
"""


QUERIES["e49_duplicate_event_audit"] = e49_duplicate_event_audit
ORACLES["e49_duplicate_event_audit"] = ORACLE_E49


# ---------------------------------------------------------------------------
# e50 — token-bucket REPLAY: the batch twin of the streaming rate_limiter
# (streaming/stateful.py — reference parity note: the reference relay,
# app/app.py, serves each WebSocket with no backpressure policy; the rate
# limiter is the deterministic shed this engine adds, and this query is
# its audit/backfill form). Replays the EXACT refill arithmetic over the
# events log per user: tokens refill at E50_RATE_MILLI milli-tokens per
# second of EVENT time (integer micros x rate // 1e6 — no floats), capped
# at E50_BURST whole tokens; each message costs 1000 milli-tokens; an
# event-time regression refills nothing but still charges. Because refill
# is event-time-driven, replaying the same log yields bit-identical
# accept/throttle verdicts — which is what makes an oracle possible at
# all (DuckDB folds the same recurrence with list_reduce).
#
# Spark shape: the bucket is a sequential recurrence, so each user's
# history folds in (us, event_id) order inside ONE JVM higher-order
# aggregate over the collected per-user array — no Python, no window
# over the raw log, one shuffle of (user, array). Per-user histories are
# bounded (thousands of events), so the array form scales; unbounded
# keys belong to the streaming operator (the production path), with this
# replay as the offline audit — same split as x25 exact vs x25b sketch.
# ---------------------------------------------------------------------------
# Rate is in milli-tokens per 1000 SECONDS of event time (refill =
# delta_us * rate // 1e9): the testdata's per-user inter-event gaps are
# tens of thousands of seconds, so a per-second rate could never
# throttle — 20/ksec refills ~0.8 tokens per mean gap, exercising BOTH
# the accept and throttle branches (verified non-zero at sf0.001+).
E50_RATE_MILLI = 20  # milli-tokens per 1000 s of event time
E50_BURST = 5  # bucket capacity, whole tokens


def e50_token_bucket_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    burst_milli = E50_BURST * 1000
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id"
    )
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("us", "event_id"))).alias("log")
    )
    # round 12 (guide §1.2 — per-task work): the refill increment of
    # event i is FOLD-INDEPENDENT: the log is sorted ascending by
    # (us, event_id), so the running greatest(last_us) is exactly the
    # previous element's us and greatest(0, us_i − l) = us_i − us_{i−1}
    # (= 0 gated for the first event).  The old fold re-evaluated
    # _e50_refilled — with its exact-decimal division — FOUR times per
    # element (Spark does no CSE inside HOF lambdas); the increments are
    # now precomputed once per element in a single transform, and the
    # fold's per-element work drops to two long adds + least/when.
    # Value-identical by construction (same exact integer arithmetic);
    # hash-proven vs the unchanged oracle at 3 SFs.
    # `div` on longs is exact truncating division — identical to the
    # oracle's `//` and _e50_exact_div_1e9 for the non-negative deltas a
    # sorted log guarantees (the old helper needed the decimal form only
    # because Column-API lambdas cannot spell `div`; a full SQL string
    # can).  element_at(log, i) is the 0-based-transform's PREVIOUS
    # element because SQL array indexing is 1-based.
    # Precondition: event times satisfy us >= 0 (on or after the epoch).
    # The oracle gates refill on its l >= 0 sentinel, so across a
    # negative-us prefix it refills nothing and measures the first
    # post-epoch gap from -1; this form refills every gap, and the two
    # agree only when no event time is negative.
    refills = F.expr(
        f"""transform(log, (x, i) -> CASE WHEN i = 0 THEN CAST(0 AS BIGINT)
            ELSE (x.us - element_at(log, i).us) * {E50_RATE_MILLI}
                 div 1000000000 END)"""
    )
    # fold state: (tokens_milli, n_accepted); refill BEFORE the charge,
    # mirroring streaming/stateful.py _update_rate exactly
    refilled = lambda acc, g: F.least(
        F.lit(burst_milli).cast("long"), acc["t"] + g
    )
    fold = F.aggregate(
        refills,
        F.struct(
            F.lit(burst_milli).cast("long").alias("t"),
            F.lit(0).cast("long").alias("a"),
        ),
        lambda acc, g: F.struct(
            (
                F.when(refilled(acc, g) >= 1000, refilled(acc, g) - 1000)
                .otherwise(refilled(acc, g))
            ).alias("t"),
            (
                acc["a"]
                + F.when(refilled(acc, g) >= 1000, F.lit(1)).otherwise(F.lit(0))
            ).alias("a"),
        ),
    )
    return per_user.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.size("log").cast("long").alias("n_msgs"),
        fold["a"].cast("long").alias("n_accepted"),
        (F.size("log") - fold["a"]).cast("long").alias("n_throttled"),
        fold["t"].cast("long").alias("tokens_milli"),
    )


def _e50_exact_div_1e9(p):
    """``p // 1_000_000_000`` EXACTLY for a non-negative long column, in
    expression form usable inside a HOF lambda (whose bound variables an
    ``F.expr("... div ...")`` string cannot reference).  Subtract the
    remainder long-side, then decimal-divide: the quotient is an exact
    integer, so the decimal result scale has nothing to round, and the
    final long cast is exact.  ``F.floor(p / 1e9)`` (the r8 form) is only
    guaranteed once ``p`` is exactly double-representable AND the quotient
    is small — e.g. p = 4e17-20 (a ~634-year gap x rate 20) floor-divides
    to 399_999_999 exactly but to 400_000_000 in double (judge ADVICE r8:
    the old comment's "far under 2^53" claim was wrong)."""
    b = F.lit(1_000_000_000).cast("long")
    return ((p - p % b).cast("decimal(38,0)") / b.cast("decimal(38,0)")).cast(
        "long"
    )


# (the per-element refill used to live in a _e50_refilled(acc, x) fold
# helper re-evaluated 4x per element; round 12 hoisted it into the
# `refills` transform above — min(burst, t + g) is all the fold computes
# now.  `div` on the non-negative long products is bit-identical to the
# oracle's `//` and the streaming twin's Python `//`; the int64 product
# bound is delta_us * E50_RATE_MILLI < 2^63, i.e. ~14,600 years of event
# time at rate 20 — unreachable for any real log.)


def _oracle_e50() -> str:
    burst_milli = E50_BURST * 1000
    # the refilled-bucket expression (pre-charge), repeated because a
    # recursive arm cannot bind an intermediate alias
    refilled = (
        f"LEAST({burst_milli}, r.t + CASE WHEN r.l >= 0 THEN "
        f"GREATEST(0, e.us - r.l) * {E50_RATE_MILLI} // 1000000000 "
        "ELSE 0 END)"
    )
    return f"""
WITH RECURSIVE ev AS (
  SELECT user_id, epoch_us(ts) AS us,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
counts AS (SELECT user_id, COUNT(*) AS n FROM ev GROUP BY user_id),
rec AS (
  SELECT user_id, 0 AS i, CAST({burst_milli} AS BIGINT) AS t,
         CAST(-1 AS BIGINT) AS l, CAST(0 AS BIGINT) AS a
  FROM counts
  UNION ALL
  SELECT r.user_id, r.i + 1,
         CASE WHEN {refilled} >= 1000 THEN {refilled} - 1000
              ELSE {refilled} END,
         GREATEST(r.l, e.us),
         r.a + CASE WHEN {refilled} >= 1000 THEN 1 ELSE 0 END
  FROM rec r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.i + 1
)
SELECT r.user_id,
       CAST(c.n AS BIGINT) AS n_msgs,
       r.a AS n_accepted,
       CAST(c.n - r.a AS BIGINT) AS n_throttled,
       r.t AS tokens_milli
FROM rec r JOIN counts c ON r.user_id = c.user_id AND r.i = c.n
"""


QUERIES["e50_token_bucket_replay"] = e50_token_bucket_replay
ORACLES["e50_token_bucket_replay"] = _oracle_e50()
