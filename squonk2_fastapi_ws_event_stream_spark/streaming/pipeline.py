"""The relay pipeline: envelope → enrichment → delivery rows.

This is the Spark expression of the reference's per-message callback chain
P1→F3→F1→P2→(P3+P4 | P5)→K1 (/root/reference/app/app.py:393-524; SURVEY
§3.1 step 6). It is a pure DataFrame transform, applied identically to the
streaming DataFrame from the "eventstream" source and to batch DataFrames
in tests — one codegen span, no shuffle, no Python.

Enrichment fidelity notes:
- JSON messages: the reference parses, inserts `ess_ordinal`/`ess_timestamp`
  into the dict, and re-serializes (app/app.py:472-489). We validate with
  try_parse_json (malformed → dropped, app/app.py:474-485) but enrich by
  string-splice — appending `, "ess_ordinal": N, "ess_timestamp": M` before
  the final `}` — which preserves the original key order and body formatting
  exactly (json.dumps re-serialization does not), and adds only `ess_`
  prefixed keys as permitted (app/app.py:470-471).
- protobuf-text messages: appended `|ordinal: N|timestamp: M`
  (app/app.py:490-494) — byte-identical to the reference.
- POISON is never forwarded (app/app.py:463-467); empty bodies are skipped
  (app/app.py:468); undecodable bytes are dropped (app/app.py:433-443).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

POISON = "POISON"  # control message, never forwarded (app/app.py:463-467)


def annotate(envelope: DataFrame) -> DataFrame:
    """(key, value, offset, timestamp) → + (is_poison, out).

    `out` is the enriched wire string, or NULL when the message must be
    dropped (empty, undecodable, malformed JSON) or is the POISON pill.
    Keeping dropped/poison rows visible (instead of filtering here) lets the
    streaming sink observe the pill and stop the consumer, while batch
    callers just filter on `out IS NOT NULL`.

    Decode parity: the reference DROPS messages whose bytes are not valid
    UTF-8 (app/app.py:433-443); `try_validate_utf8` returns NULL for those
    (a bare cast would substitute replacement characters instead).
    """
    msg = F.try_validate_utf8(F.col("value"))
    df = envelope.withColumn("msg", msg)
    ordinal = F.col("offset").cast("string")
    ts_ms = F.unix_millis(F.col("timestamp")).cast("string")
    json_ok = F.try_parse_json(F.col("msg")).isNotNull()
    # An empty object body ('{}', '{ }') has no key to splice after: the
    # leading comma would make the output malformed ('{, "ess_ordinal"...'),
    # where the reference's json.loads/json.dumps round-trip stays valid —
    # so the comma is conditional. A body that already carries ess_ keys
    # ends up with a duplicate key; JSON parsers take the last value, which
    # matches the reference's dict-overwrite semantics (app/app.py:486-488).
    is_empty_obj = F.col("msg").rlike(r"^\{\s*\}\s*$")
    enriched_json = F.concat(
        F.regexp_replace(F.col("msg"), r"\}\s*$", ""),
        F.when(is_empty_obj, F.lit('"ess_ordinal": ')).otherwise(
            F.lit(', "ess_ordinal": ')
        ),
        ordinal,
        F.lit(', "ess_timestamp": '),
        ts_ms,
        F.lit("}"),
    )
    enriched_proto = F.concat(
        F.col("msg"), F.lit("|ordinal: "), ordinal, F.lit("|timestamp: "), ts_ms
    )
    out = (
        F.when(
            F.col("msg").isNull() | (F.length("msg") == 0) | (F.col("msg") == POISON),
            F.lit(None),
        )
        .when(F.col("msg").startswith("{") & json_ok, enriched_json)  # P2→P3+P4
        .when(F.col("msg").startswith("{"), F.lit(None))  # malformed JSON → drop
        .otherwise(enriched_proto)  # P5
    )
    return (
        df.withColumn("is_poison", F.col("msg") == POISON)
        .withColumn("out", out)
        .select("key", "offset", "timestamp", "is_poison", "out")
    )


def relay_transform(envelope: DataFrame) -> DataFrame:
    """(key, value, offset, timestamp) → (key, offset, timestamp, out) with
    dropped/poison rows removed — the deliverable stream."""
    return (
        annotate(envelope)
        .filter(F.col("out").isNotNull())
        .select("key", "offset", "timestamp", "out")
    )
