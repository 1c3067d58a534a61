"""Round-8 conversion guard: the class-2 ROUND-on-double exposure
(AUDIT_ROUND_DOUBLES.md) was closed by replacing every float
``ROUND(x, n)`` in a checked column with floor-of-scaled or exact
integer micros. This lint keeps the class CLOSED in the converted
modules: the only SQL/Column ROUND allowed there is the
integer-recovery idiom ``ROUND(col * 1000000)`` (exact — the value
sits within ulps of the grid point, 5e-7 from any half boundary).
Python-level ``round(...)`` of driver-side constants is fine: the same
Python value is inlined into BOTH the Spark plan and the oracle SQL.

A new F.round/ROUND on a float expression in similarity/dedup/vectors
is exactly the t09 bug class reintroduced — fail loudly at lint time
instead of at one sf0.1 row three rounds later.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "squonk2_fastapi_ws_event_stream_spark"

# Modules fully converted in round 8 — float ROUND is banned here.
CONVERTED = [
    PKG / "functions" / "vectors.py",
    PKG / "operators" / "similarity.py",
    PKG / "operators" / "dedup.py",
    # Round-9 additions: ROUND-free after the 46-query conversion batch
    # (t45's pagerank loop in graph.py, m09 in multimodal.py) — and the
    # relay pipeline, which was born integer-exact and must stay so.
    PKG / "operators" / "graph.py",
    PKG / "operators" / "multimodal.py",
    PKG / "functions" / "hashing.py",
    PKG / "streaming" / "pipeline.py",
    # Round-10 additions: ROUND-free after the final 33-query conversion
    # batch (t09/t15/v30, t47/t48/t53/t58/t61, q52/q54, e- and x-family).
    PKG / "operators" / "quality.py",
    PKG / "operators" / "corpus.py",
    PKG / "operators" / "textstats.py",
]

# SQL ROUND (case-sensitive, the convention in every oracle string) or
# the Column form F.round — python round() of driver constants is not
# matched.
_ANY_ROUND = re.compile(r"\bF\.round\(|\bROUND\(")
# The permitted shape: integer recovery of a 6dp-published column,
# possibly spanning lines ( ROUND((<expr>) * 1000000) ).
_RECOVERY = re.compile(r"ROUND\([^;]{1,120}?\*\s*1000000\s*\)", re.S)


def _line_of(text: str, pos: int) -> int:
    return text.count("\n", 0, pos) + 1


def test_converted_modules_have_no_float_round():
    offenders: list[str] = []
    for path in CONVERTED:
        text = path.read_text()
        for m in _ANY_ROUND.finditer(text):
            # allow mentions in # comments
            line_start = text.rfind("\n", 0, m.start()) + 1
            if "#" in text[line_start : m.start()]:
                continue
            frag = text[m.start() : m.start() + 160].replace("F.round(", "ROUND(")
            if _RECOVERY.match(frag):
                continue
            offenders.append(
                f"{path.name}:{_line_of(text, m.start())}: "
                + text[line_start:].splitlines()[0].strip()
            )
    assert not offenders, (
        "float ROUND reintroduced in a converted module (t09 class) — "
        "use floor_scaled/sql_floor_scaled or integer micros:\n"
        + "\n".join(offenders)
    )


def test_recovery_idiom_regex_accepts_known_good():
    good = [
        "SUM(CAST(ROUND(cos * 1000000) AS BIGINT))",
        "CAST(ROUND(variance * 1000000) AS BIGINT)",
        "CAST(ROUND((a.own_cos) * 1000000) AS BIGINT)",
        "SUM(CAST(ROUND((list_sum(x))\n * 1000000) AS BIGINT))",
        "F.round(F.col('m0') * 1000000)",
    ]
    for g in good:
        m = _ANY_ROUND.search(g)
        assert m, g
        frag = g[m.start():].replace("F.round(", "ROUND(")
        assert _RECOVERY.match(frag), g


def test_recovery_idiom_regex_rejects_float_round():
    bad = [
        "F.round(jac, 6)",
        "ROUND(1.0 * x / y, 6)",
        "ROUND(ip, 6)",
        "F.round(F.min('val'), 6)",
        "ROUND(MAX(ABS(m0 - m1)), 6)",
    ]
    for b in bad:
        m = _ANY_ROUND.search(b)
        assert m, b
        frag = b[m.start():].replace("F.round(", "ROUND(")
        assert not _RECOVERY.match(frag), b
