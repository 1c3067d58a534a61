"""Graph operators: connected components for duplicate clustering.

Candidate-pair generators (t02 MinHash LSH, t06 banded SimHash, v08 SRP
LSH) emit PAIRS; a real dedup pipeline must then group pairs into
duplicate CLUSTERS and elect one canonical document per cluster — "keep
the lowest doc_id of each component". That pairs→clusters step is a
connected-components computation, implemented here as iterative
min-label propagation over DataFrames.

Scale design (100 TB):
- Each round is one equi-join (edges ⋈ labels on the edge endpoint) plus
  one groupBy-min — both shuffle on the node key, both map-side
  combinable. No all-pairs step, no driver-side adjacency.
- Rounds needed = graph diameter. Near-dup similarity graphs are dense
  little cliques (diameter 1-3), so propagation converges in a handful
  of rounds. A long-chain graph needs more rounds than the cap allows,
  and the loop raises rather than return unconverged labels; the
  published fix for that case is the alternating large-star/small-star
  algorithm (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC'14), which converges in O(log² n) rounds with the same
  per-round join shape.
- `localCheckpoint(eager=True)` after every round truncates lineage so
  the plan does not grow with iteration count (the classic iterative-
  DataFrame pitfall: round k re-derives rounds 1..k-1).
- Convergence is detected with an exact-decimal `sum(label)` aggregate:
  min-label propagation is monotone (every node's label is non-increasing
  and at least one strictly decreases until the fixpoint), so an
  unchanged sum IS convergence. The probe is a single map-side-combined
  aggregate over the just-checkpointed table — no join, no second
  shuffle, and the decimal(38) sum cannot overflow for any realistic id
  space.

Reference parity: the reference relay (app/app.py) has no graph surface;
this operator belongs to the driver's LLM-training-pipeline extension
mandate alongside t01-t06.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import table
from .dedup import t06_dedup_simhash_banded, _oracle_t06

MAX_CC_ROUNDS = 25  # safety bound; diameter of dedup graphs is far smaller


def connected_components(edges: DataFrame) -> DataFrame:
    """(src, dst) undirected edge list -> (node, cluster_id) labels.

    cluster_id is the minimum node id in each component. Only nodes that
    appear in ``edges`` are labeled (isolated nodes have no duplicates
    and need no cluster).

    Both working tables are `localCheckpoint`ed, NOT persist()ed: the
    rounds re-plan against them every iteration, and a checkpoint gives a
    lineage-free leaf (a persisted table keeps its full lineage for the
    analyzer and an InMemoryRelation boundary in every round's plan —
    measured ~3x slower per round here).
    """
    und = (
        edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
        .unionByName(edges.select(F.col("dst").alias("s"), F.col("src").alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        und.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    ).localCheckpoint(eager=True)

    def _label_sum(df: DataFrame) -> int:
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    # No probe of the INITIAL labels: round 1 always changes something on
    # any non-empty edge set (every non-minimum node adopts a smaller
    # label), so the first useful comparison is round 1 vs round 2 — one
    # fewer driver round-trip per call, identical convergence detection
    # (the monotone-sum argument needs only consecutive probes to agree).
    prev_sum = None
    converged = False
    for _ in range(MAX_CC_ROUNDS):
        # Two propagation hops per materialization round: each hop lets
        # every node adopt min(own label, neighbours' labels); doing two
        # before the checkpoint halves the number of eager barriers and
        # convergence probes for the same total join work (rounds are
        # latency-bound at low data volume, join-bound at high — both
        # profit). Plans stay shallow: 2 joins + 2 aggregates per round.
        # (3 hops/round was measured SLOWER at sf0.1 — the deeper 6-stage
        # round plan costs more than the barrier it saves.)
        for _hop in range(2):
            via_edges = (
                und.join(labels, und["d"] == labels["node"])
                .select(F.col("s").alias("node"), "label")
            )
            labels = (
                labels.unionByName(via_edges)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
        labels = labels.localCheckpoint(eager=True)
        cur_sum = _label_sum(labels)
        if prev_sum is not None and cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # Unconverged labels are silently WRONG (some nodes still carry a
        # non-minimal label); propagation needs diameter/2 rounds.
        raise RuntimeError(
            f"connected_components did not converge within {MAX_CC_ROUNDS} "
            "rounds (graph diameter too large for min-label propagation)."
        )
    return labels.select("node", F.col("label").alias("cluster_id"))


# ---------------------------------------------------------------------------
# t07 — duplicate clusters from near-dup pairs: t06's banded SimHash pairs
# plus deterministic chain edges (doc_id -> doc_id+1 where doc_id % 10 < 3,
# giving length-4 paths 0-1-2-3, 10-11-12-13, ... so convergence genuinely
# needs multi-hop propagation, not just the 1-hop cliques t06 emits).
# Output: every clustered doc with its canonical id (component minimum) and
# the component size. The oracle computes the same closure with a DuckDB
# recursive CTE — the all-pairs/recursive form is only ever run at oracle
# scale.
# ---------------------------------------------------------------------------
def _chain_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id")
    mx = docs.agg(F.max("doc_id").alias("m"))
    return (
        docs.filter(F.col("doc_id") % 10 < 3)
        .join(F.broadcast(mx), F.col("doc_id") + 1 <= F.col("m"))
        .select(
            F.col("doc_id").cast("long").alias("src"),
            (F.col("doc_id") + 1).cast("long").alias("dst"),
        )
    )


def _staged_edge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) near-dup edges (t06 banded pairs + deterministic chain
    edges), staged once per corpus — consumed by t07's CC loop (which
    re-reads edges every propagation round) and t40's wedge joins."""
    from .dedup import _stage_cached

    return _stage_cached(
        "t07_edges",
        sf_dir,
        lambda: t06_dedup_simhash_banded(spark, sf_dir)
        .select(
            F.col("doc_a").cast("long").alias("src"),
            F.col("doc_b").cast("long").alias("dst"),
        )
        .unionByName(_chain_edges(spark, sf_dir)),
    )


def _staged_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, cluster_id) CC labels, staged once per corpus: the label
    table is the artifact a dedup pipeline materializes after the CC job
    and every downstream consumer (t07's report, t42's canonical
    selection) reads — re-running label propagation per consumer would
    re-pay the iterative rounds."""
    from .dedup import _stage_cached

    return _stage_cached(
        "t07_labels",
        sf_dir,
        lambda: connected_components(_staged_edge_table(spark, sf_dir)),
    )


def t07_dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _staged_cc_labels(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "cluster_id")
        .select(
            F.col("node").alias("doc_id"),
            F.col("cluster_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )


def _oracle_t07() -> str:
    return f"""
WITH RECURSIVE
pairs AS (
  SELECT CAST(doc_a AS BIGINT) AS src, CAST(doc_b AS BIGINT) AS dst
  FROM ({_oracle_t06()})
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id + 1 AS BIGINT)
  FROM documents
  WHERE doc_id % 10 < 3 AND doc_id + 1 <= (SELECT MAX(doc_id) FROM documents)
),
edges AS (
  SELECT src AS s, dst AS d FROM pairs
  UNION
  SELECT dst AS s, src AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS node FROM edges),
reach(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node
),
labels AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node)
SELECT l.node AS doc_id, l.cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY l.cluster_id) AS BIGINT) AS cluster_size
FROM labels l
"""


QUERIES = {
    "t07_dedup_cluster_cc": t07_dedup_cluster_cc,
}

ORACLES = {
    "t07_dedup_cluster_cc": _oracle_t07(),
}


# ---------------------------------------------------------------------------
# t40 — triangle counting over the near-dup graph (t07's staged edge
# table): triangles measure how CLIQUE-LIKE duplicate neighborhoods are —
# high triangle density around a node means its near-dup cluster is a
# true clique (safe to collapse to one representative); low density means
# chained borderline matches (review before collapsing).
#
# Plan (the standard distributed algorithm): canonicalize edges as
# lo < hi, build wedges by joining edges on the shared middle vertex
# (e1.hi = e2.lo gives a < b < c exactly once per wedge), then close each
# wedge with one more equi-join against the edge set. Two equi-joins on
# node keys, no enumeration of neighborhoods in memory — wedge count per
# node is bounded by its degree², and degree-skew lands in AQE's lap.
# Output: per-vertex triangle membership (top rows by count) plus the
# exact global count — each triangle (a,b,c) is found exactly once.
# ---------------------------------------------------------------------------
def t40_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _staged_edge_table(spark, sf_dir)
    e = (
        edges.select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    # wedges a < b < c: (a,b) joined to (b,c) on the middle vertex
    wedges = (
        e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        .join(
            e.select(F.col("lo").alias("b"), F.col("hi").alias("c")), "b"
        )
    )
    # close the wedge: does (a, c) exist?
    tri = wedges.join(
        e.select(F.col("lo").alias("a"), F.col("hi").alias("c")), ["a", "c"]
    )
    per_vertex = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    total = tri.agg(F.count(F.lit(1)).alias("total_triangles"))
    return (
        per_vertex.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.col("n_triangles").cast("long").alias("n_triangles"),
            F.col("total_triangles").cast("long").alias("total_triangles"),
        )
    )


def _oracle_t40() -> str:
    return f"""
WITH pairs AS (
  SELECT CAST(doc_a AS BIGINT) AS src, CAST(doc_b AS BIGINT) AS dst
  FROM ({_oracle_t06()})
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id + 1 AS BIGINT)
  FROM documents
  WHERE doc_id % 10 < 3 AND doc_id + 1 <= (SELECT MAX(doc_id) FROM documents)
),
e AS (
  SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi
  FROM pairs WHERE src <> dst
),
tri AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM e e1
  JOIN e e2 ON e2.lo = e1.hi
  JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
),
pv AS (
  SELECT v AS doc_id, COUNT(*) AS n_triangles
  FROM (SELECT unnest([a, b, c]) AS v FROM tri)
  GROUP BY v
)
SELECT doc_id, CAST(n_triangles AS BIGINT) AS n_triangles,
       CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS total_triangles
FROM pv
"""


QUERIES["t40_triangle_count"] = t40_triangle_count
ORACLES["t40_triangle_count"] = _oracle_t40()


# ---------------------------------------------------------------------------
# t45 — PageRank over the near-dup graph (fixed-iteration power method,
# damping 0.85): centrality ranks the documents whose near-duplicate
# neighborhoods are largest/most connected — the "hub documents" a
# curation pass reviews first (a high-rank node is a template many
# variants orbit).
#
# Plan per iteration: ONE equi-join (out-edges ⋈ current ranks on the
# source) and ONE groupBy on the destination — both shuffle on node
# keys, map-side combinable, no driver-side adjacency (the CC loop's
# shape with a numeric payload). The edge+degree table localCheckpoints
# once; 5 fixed iterations.
#
# Unlike the adaptive CC loop, the iterations do NOT checkpoint: the
# depth is fixed and there is no convergence probe, so the five
# join+agg rounds chain into ONE linear DAG executed as a single job —
# no per-round materialization barrier, intermediates flow through
# shuffle files instead of checkpoint storage (same argument at 100 TB:
# a fixed-depth plan executes once either way, and the checkpoint only
# pays off when a driver-side probe would otherwise re-derive the
# lineage). Interleaved same-window A/B at sf0.1: 1.90 s -> 1.64 s
# (~15% faster), bit-identical output. Each round aliases its inputs so
# the five references to the checkpointed out_edges leaf resolve
# unambiguously.
#
# Cross-engine determinism: each iteration's incoming mass is an exact
# decimal(28,14) sum of r/deg contributions (order-independent), and the
# new rank is ROUNDed to 8 decimals — both engines iterate from
# bit-identical state, so a fixed-depth unrolled-CTE oracle reproduces
# the exact ranks (no recursive CTE needed at fixed depth).
# ---------------------------------------------------------------------------
PR_ITERS = 5
# Damping 0.85 as the exact rational 17/20; ranks iterate in e12
# fixed-point BIGINT so every step is integer arithmetic (truncating
# div == DuckDB //) — no float ROUND anywhere in the loop, hence no
# t09-class half-boundary exposure per iteration.  e12 units keep the
# per-node mass sum under int64 through ~1e6 nodes; a 100-TB graph run
# would drop to e6 units (same recipe, wider headroom).
PR_DAMP_NUM, PR_DAMP_DEN = 17, 20
PR_E12 = 1_000_000_000_000
PR_BASE_E12 = PR_E12 - PR_E12 * PR_DAMP_NUM // PR_DAMP_DEN  # (1-d) in e12


def t45_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _staged_edge_table(spark, sf_dir)
    und = (
        edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
        .unionByName(edges.select(F.col("dst").alias("s"), F.col("src").alias("d")))
        .distinct()
    )
    deg = und.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    out_edges = und.join(deg, "s").localCheckpoint(eager=True)
    ranks = (
        out_edges.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("r", F.lit(PR_E12).cast("long"))
    )
    for i in range(PR_ITERS):
        oe = out_edges.alias(f"oe{i}")
        rk = ranks.alias(f"rk{i}")
        ranks = (
            oe.join(rk, F.col(f"oe{i}.s") == F.col(f"rk{i}.node"))
            .groupBy(F.col(f"oe{i}.d"))
            .agg(F.sum(F.expr("r div deg")).alias("contrib"))
            .select(
                F.col("d").alias("node"),
                (
                    F.lit(PR_BASE_E12)
                    + F.expr(f"contrib * {PR_DAMP_NUM} div {PR_DAMP_DEN}")
                ).alias("r"),
            )
        )
    return ranks.select(
        F.col("node").cast("long").alias("doc_id"),
        (F.expr("r div 1000000") / F.lit(1e6)).alias("pagerank"),
    )


def _oracle_t45() -> str:
    prev = "r0"
    iters = []
    for i in range(1, PR_ITERS + 1):
        iters.append(
            f"""r{i} AS (
  SELECT e.d AS node,
         {PR_BASE_E12} + SUM(p.r // e.deg) * {PR_DAMP_NUM} // {PR_DAMP_DEN} AS r
  FROM out_edges e JOIN {prev} p ON e.s = p.node
  GROUP BY e.d
)"""
        )
        prev = f"r{i}"
    return f"""
WITH pairs AS (
  SELECT CAST(doc_a AS BIGINT) AS src, CAST(doc_b AS BIGINT) AS dst
  FROM ({_oracle_t06()})
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id + 1 AS BIGINT)
  FROM documents
  WHERE doc_id % 10 < 3 AND doc_id + 1 <= (SELECT MAX(doc_id) FROM documents)
),
und AS (
  SELECT DISTINCT s, d FROM (
    SELECT src AS s, dst AS d FROM pairs
    UNION ALL
    SELECT dst AS s, src AS d FROM pairs
  )
),
deg AS (SELECT s, COUNT(*) AS deg FROM und GROUP BY s),
out_edges AS (SELECT u.s, u.d, dg.deg FROM und u JOIN deg dg ON u.s = dg.s),
r0 AS (SELECT DISTINCT s AS node, CAST(1000000000000 AS BIGINT) AS r FROM und),
{",".join(iters)}
SELECT node AS doc_id, r // 1000000 / 1e6 AS pagerank FROM {prev}
"""


QUERIES["t45_pagerank"] = t45_pagerank
ORACLES["t45_pagerank"] = _oracle_t45()
