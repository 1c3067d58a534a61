"""Connected-components unit coverage (the oracle-parity test covers the
full t07 query; this exercises the propagation loop directly)."""

from __future__ import annotations

from pyspark.sql import functions as F

from squonk2_fastapi_ws_event_stream_spark.operators.graph import connected_components


def _labels(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["cluster_id"] for r in connected_components(df).collect()
    }


def test_cc_chain_propagates_multi_hop(spark):
    # 0-1-2-3-4 chain: min label must travel 4 hops.
    got = _labels(spark, [(i, i + 1) for i in range(4)])
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0}


def test_cc_separate_components_and_cliques(spark):
    edges = [(10, 11), (11, 12), (10, 12), (20, 21), (30, 31), (31, 32)]
    got = _labels(spark, edges)
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 30, 32: 30}


def test_cc_direction_insensitive(spark):
    # Edges given in "wrong" direction still produce min-id labels.
    got = _labels(spark, [(5, 1), (1, 3)])
    assert got == {1: 1, 3: 1, 5: 1}


def test_cc_labels_only_nodes_with_edges(spark):
    got = _labels(spark, [(7, 8)])
    assert set(got) == {7, 8}


def test_cc_raises_on_a_chain_longer_than_its_round_cap(spark):
    import pytest as _pytest

    from squonk2_fastapi_ws_event_stream_spark.operators.graph import (
        MAX_CC_ROUNDS,
    )

    n = 300  # diameter 299 >> 2*MAX_CC_ROUNDS propagation hops
    chain = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(chain, "src long, dst long")

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df)
    assert MAX_CC_ROUNDS * 2 < n - 1  # the chain genuinely exceeds the cap


def test_pagerank_mass_conservation(spark):
    """t45: every rank ≥ 0.15 (the teleport floor), and total mass stays
    at N — each iteration maps Σr to 0.15·N + 0.85·Σr, whose fixed point
    is N and which starts AT N (r₀ = 1), so only the 8-decimal rounding
    can perturb it."""
    from squonk2_fastapi_ws_event_stream_spark.operators import graph

    rows = {
        r["doc_id"]: r["pagerank"]
        for r in graph.t45_pagerank(spark, "/root/testdata/sf0.001").collect()
    }
    assert rows
    assert all(r >= 0.15 - 1e-9 for r in rows.values())
    n = len(rows)
    assert abs(sum(rows.values()) - n) < 1e-3 * n
