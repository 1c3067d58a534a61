"""Round-9 task #1: the bench gate must compare against the per-query
BEST-EVER COMMITTED time, not the last record refresh.

The round-8 judge found the rebasing hole: ``--check`` gated against
``BENCH_FULL.json`` *as last committed*, and a mid-round refresh rebased
the gate — m01 drifted 2.06x past the r7 close across two refreshes while
every individual hop stayed under 2x, so the closing check reported
"0 regressions".  These tests pin the fix:

- the baseline is the min across ALL committed bench records (git history
  of BENCH_FULL.json plus the driver's BENCH_r*.json) — a refresh cannot
  raise it;
- the canary: a hand-slowed refresh that would have passed the old
  last-record gate now trips the check;
- >1.5x movers need a BENCH_ATTRIBUTION.json entry (same-window A/B);
  ``max_ratio`` entries raise the hard gate per-query, loudly.

No Spark session needed — the gate is pure arithmetic over records.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _result(queries: dict) -> dict:
    return {"queries": queries, "streaming": {}}


def test_best_ever_baseline_reads_git_history_and_driver_records():
    best = bench.best_ever_baseline(REPO)
    # Every query in the current committed record has a best-ever entry,
    # and the best-ever is never above the current record (min semantics).
    with open(os.path.join(REPO, "BENCH_FULL.json"), encoding="utf-8") as f:
        cur = json.load(f)["queries"]
    assert len(best) >= len(cur) > 200
    for q, sec in cur.items():
        assert best[q] <= sec + 1e-9, q
    # The judge's concrete rebasing example: m01's best-ever predates the
    # round-8 refreshes — the gate denominator must be the old fast time,
    # not the refreshed 1.1s+ record.
    assert best["m01_multimodal_decode"] < 0.6


def test_canary_hand_slowed_refresh_trips_the_check(capsys):
    """The rebasing canary.  History: q ran at 1.0s (committed).  A
    mid-round refresh recorded 1.9s (each hop <2x of the LAST record, so
    the old gate stayed quiet).  The next run at 2.5s is 1.32x the refresh
    but 2.5x best-ever: the fixed gate must fail it."""
    best = {"queries": {"q_canary": 1.0}}
    rc = bench.check_against_baseline(
        _result({"q_canary": 2.5}), best, "synthetic", attributions={}
    )
    assert rc == 1
    assert "2.50x best-ever" in capsys.readouterr().err


def test_mover_between_1_5x_and_2x_requires_attribution(capsys):
    best = {"queries": {"q_m": 1.0}}
    # Unattributed 1.8x mover: fails with the attribution message.
    rc = bench.check_against_baseline(
        _result({"q_m": 1.8}), best, "synthetic", attributions={}
    )
    assert rc == 1
    assert "BENCH_ATTRIBUTION.json" in capsys.readouterr().err
    # Attributed (A/B-backed) 1.8x mover: passes.
    attr = {"q_m": {"round": 9, "reason": "same-window A/B 1.0x"}}
    rc = bench.check_against_baseline(
        _result({"q_m": 1.8}), best, "synthetic", attributions=attr
    )
    assert rc == 0


def test_max_ratio_exception_raises_the_hard_gate_per_query_only(capsys):
    best = {"queries": {"q_x": 1.0, "q_other": 1.0}}
    attr = {"q_x": {"round": 9, "reason": "A/B: host drift", "max_ratio": 3.0}}
    # 2.5x with a 3.0 exception passes — and says so loudly.
    rc = bench.check_against_baseline(
        _result({"q_x": 2.5}), best, "synthetic", attributions=attr
    )
    assert rc == 0
    assert "ATTRIBUTED EXCEPTION" in capsys.readouterr().err
    # 3.5x exceeds even the exception: fails.
    assert (
        bench.check_against_baseline(
            _result({"q_x": 3.5}), best, "synthetic", attributions=attr
        )
        == 1
    )
    # The exception does NOT leak onto other queries.
    assert (
        bench.check_against_baseline(
            _result({"q_other": 2.5}), best, "synthetic", attributions=attr
        )
        == 1
    )


def test_noise_floor_still_applies():
    # 3.5x ratio but only a 0.25s delta: shared-host noise, not gated.
    best = {"queries": {"q_f": 0.1}}
    assert (
        bench.check_against_baseline(
            _result({"q_f": 0.35}), best, "synthetic", attributions={}
        )
        == 0
    )


def test_new_query_ceiling_unchanged():
    best = {"queries": {"q_a": 1.0, "q_b": 4.0}}
    # New query above 2x the slowest accepted query fails; below passes.
    assert (
        bench.check_against_baseline(
            _result({"q_new": 9.0}), best, "synthetic", attributions={}
        )
        == 1
    )
    assert (
        bench.check_against_baseline(
            _result({"q_new": 7.0}), best, "synthetic", attributions={}
        )
        == 0
    )


def test_committed_attribution_entries_are_wellformed():
    attr = bench.load_attributions()
    # The round-9 A/B-backed entries exist and every entry carries the
    # contract fields; max_ratio (where present) is a sane bound.
    for name in ("m01_multimodal_decode", "m02_multimodal_resize"):
        assert name in attr, name
    for name, entry in attr.items():
        if name.startswith("_"):
            continue
        assert entry.get("reason") and entry.get("evidence"), name
        if "max_ratio" in entry:
            assert 2.0 < float(entry["max_ratio"]) <= 4.0, name


def test_current_committed_record_passes_the_best_ever_gate():
    """The live invariant the judge asked for: the committed BENCH_FULL.json
    itself must clear the non-rebasable gate with the committed
    attributions — i.e. m01's history is now attributed, not hidden.

    Round-10 addition: the driver overwrites BENCH_FULL.json each round
    with its own (often slower-window) run, which used to turn this test
    red until hand archaeology.  The committed BENCH_RECONCILE.json —
    written by scripts/reconcile_driver_bench.py at round open, each
    mover solo-re-measured on the current tree — now excuses exactly the
    recorded values it cleared (value-matched host_window verdicts), so
    the suite is green with the driver's record in the tree BY PROCEDURE
    while any new, unreconciled slow number still fails."""
    with open(os.path.join(REPO, "BENCH_FULL.json"), encoding="utf-8") as f:
        cur = json.load(f)
    best = bench.best_ever_baseline(REPO)
    if not best:
        pytest.skip("git history unavailable")
    rc = bench.check_against_baseline(
        {"queries": cur["queries"], "streaming": {}},
        {"queries": best},
        "best-ever committed",
        reconcile=bench.load_reconcile(),
    )
    assert rc == 0


def test_reconcile_verdict_is_value_matched():
    """A host_window verdict excuses ONLY the suite_sec it re-measured:
    the same query at a different (new) slow value still fails — the
    reconcile file is not a rebasing path."""
    best = {"queries": {"q_w": 1.0}}
    rec = {"q_w": {"suite_sec": 2.5, "solo_sec": 1.1, "verdict": "host_window"}}
    # The reconciled value passes…
    assert (
        bench.check_against_baseline(
            _result({"q_w": 2.5}), best, "synthetic", attributions={}, reconcile=rec
        )
        == 0
    )
    # …a different slow value does not…
    assert (
        bench.check_against_baseline(
            _result({"q_w": 2.8}), best, "synthetic", attributions={}, reconcile=rec
        )
        == 1
    )
    # …and a tree_regression verdict excuses nothing.
    rec2 = {"q_w": {"suite_sec": 2.5, "solo_sec": 2.4, "verdict": "tree_regression"}}
    assert (
        bench.check_against_baseline(
            _result({"q_w": 2.5}), best, "synthetic", attributions={}, reconcile=rec2
        )
        == 1
    )


def test_stream_reprobe_verdict(capsys):
    """Round-10 task #6: a >1.25x relay dip triggers the solo re-probe;
    max(in-suite, solo) decides — a recovering probe clears, a slow one
    still gates at the hard 2x floor."""
    base = {"queries": {}, "streaming": {"relay_msgs_per_sec": 40000}}
    # Dip to 28k (1.43x under), re-probe recovers to 39k: no failure.
    result = {"queries": {}, "streaming": {"relay_msgs_per_sec": 28000}}
    rc = bench.check_against_baseline(
        result, base, "synthetic", attributions={}, restream=lambda: 39000.0
    )
    err = capsys.readouterr().err
    assert rc == 0
    assert "STREAM RETRY" in err and "host window" in err
    assert result["streaming"]["relay_msgs_per_sec"] == 39000
    # Dip past 2x that stays slow on the re-probe: hard failure.
    result2 = {"queries": {}, "streaming": {"relay_msgs_per_sec": 15000}}
    rc2 = bench.check_against_baseline(
        result2, base, "synthetic", attributions={}, restream=lambda: 16000.0
    )
    err2 = capsys.readouterr().err
    assert rc2 == 1
    assert "tree-side" in err2


def test_best_ever_stream_is_the_committed_max():
    """Round-10 verdict task #5: the relay floor is the MAX committed
    relay throughput over the same non-rebasable sources as the query
    baseline — a slower record refresh can never lower it."""
    best = bench.best_ever_stream(REPO)
    if best is None:
        pytest.skip("git history unavailable")
    with open(os.path.join(REPO, "BENCH_FULL.json"), encoding="utf-8") as f:
        cur = json.load(f).get("streaming", {}).get("relay_msgs_per_sec")
    assert best >= (cur or 0)
    assert best > 30_000  # the r10 records put the committed max past this


def test_streaming_reconcile_verdict_is_value_matched(capsys):
    """The relay analog of the per-query host_window excusal: a committed
    _streaming verdict excuses EXACTLY the recorded msg/s it re-probed;
    a different slow number (or a tree_regression verdict) still fails."""
    base = {"queries": {}, "streaming": {"relay_msgs_per_sec": 40000}}
    rec = {
        "_streaming": {
            "record_msgs_per_sec": 15000,
            "solo_8stream_msgs_per_sec": 39000,
            "verdict": "host_window",
        }
    }
    # The reconciled value passes, loudly…
    result = {"queries": {}, "streaming": {"relay_msgs_per_sec": 15000}}
    rc = bench.check_against_baseline(
        result, base, "synthetic", attributions={}, reconcile=rec
    )
    assert rc == 0
    assert "RECONCILED relay" in capsys.readouterr().err
    # …a different slow value does not…
    result2 = {"queries": {}, "streaming": {"relay_msgs_per_sec": 14000}}
    assert (
        bench.check_against_baseline(
            result2, base, "synthetic", attributions={}, reconcile=rec
        )
        == 1
    )
    # …and a tree_regression verdict excuses nothing.
    rec2 = {
        "_streaming": {
            "record_msgs_per_sec": 15000,
            "solo_8stream_msgs_per_sec": 16000,
            "verdict": "tree_regression",
        }
    }
    assert (
        bench.check_against_baseline(
            result, base, "synthetic", attributions={}, reconcile=rec2
        )
        == 1
    )


def test_keep_verdicts_drops_a_stale_streaming_verdict(tmp_path, monkeypatch):
    """--keep-verdicts merges old per-query verdicts forward, but a relay
    verdict was value-matched to an older record: when this run does not
    flag the relay, the ledger carries no _streaming verdict."""
    from scripts import reconcile_driver_bench as rdb

    path = tmp_path / "BENCH_RECONCILE.json"
    monkeypatch.setattr(bench, "RECONCILE_PATH", str(path))
    q_old = {"suite_sec": 2.5, "solo_sec": 1.1, "verdict": "host_window"}
    stale = {"record_msgs_per_sec": 15000, "verdict": "host_window"}
    path.write_text(json.dumps({"verdicts": {"q_old": q_old, "_streaming": stale}}))

    rdb._write("BENCH_FULL.json", {"value": 100.0}, 13, {}, 40000, 40000, keep=True)
    out = json.loads(path.read_text())
    assert out["streaming_check"]["flagged"] is False
    assert out["verdicts"] == {"q_old": q_old}

    # a run that flags the relay keeps its own verdict
    fresh = {"record_msgs_per_sec": 14000, "verdict": "host_window"}
    rdb._write(
        "BENCH_r13.json", {"value": 90.0}, 13, {"_streaming": fresh}, 14000, 40000, keep=True
    )
    out = json.loads(path.read_text())
    assert out["streaming_check"]["flagged"] is True
    assert out["verdicts"] == {"q_old": q_old, "_streaming": fresh}


def test_retry_clears_a_transient_spike_and_rewrites_the_record(capsys):
    """A query that spikes in-suite but re-measures fast solo is
    interference, not a regression: the gate passes, the result dict
    carries the solo minimum (so the written record is the honest
    measurement), and the retry says so on stderr."""
    best = {"queries": {"q_t": 1.0}}
    result = _result({"q_t": 3.5})
    calls = []

    def fake_remeasure(name):
        calls.append(name)
        return 1.05

    rc = bench.check_against_baseline(
        result, best, "synthetic", attributions={}, remeasure=fake_remeasure
    )
    err = capsys.readouterr().err
    assert rc == 0
    assert calls == ["q_t"]
    assert result["queries"]["q_t"] == 1.05  # record rewritten to solo min
    assert "RETRY q_t" in err and "TRANSIENT q_t" in err


def test_retry_cannot_save_a_real_regression(capsys):
    """A genuinely slow query stays slow on the solo re-measure: the
    gate still fails, and the recorded value is the (slow) minimum."""
    best = {"queries": {"q_r": 1.0}}
    result = _result({"q_r": 3.5})
    rc = bench.check_against_baseline(
        result, best, "synthetic", attributions={}, remeasure=lambda name: 3.2
    )
    err = capsys.readouterr().err
    assert rc == 1
    assert result["queries"]["q_r"] == 3.2
    assert "3.20x best-ever" in err and "TRANSIENT" not in err


def test_retry_only_lowers_never_raises_the_recorded_time():
    """min(in-suite, solo): a solo re-measure SLOWER than the suite pass
    must not replace it — retries cannot inflate the record (and can
    never touch the baseline at all)."""
    best = {"queries": {"q_s": 1.0}}
    result = _result({"q_s": 1.8})
    rc = bench.check_against_baseline(
        result, best, "synthetic", attributions={}, remeasure=lambda name: 9.9
    )
    assert result["queries"]["q_s"] == 1.8  # kept the faster suite number
    assert rc == 1  # still an unattributed 1.8x mover
