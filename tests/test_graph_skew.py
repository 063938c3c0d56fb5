"""Skewed-graph stress: the iterative graph family on a hub-heavy
graph (r8 verdict item 7).

SCALING.md names hub fan-out as the skew axis for the per-round keyed
joins in BFS / k-core / Bellman-Ford / PageRank (SCALING.md's
iterative-family rows). This fixture proves the claims on a graph
where ONE node sits in >50% of edges:

- correctness: every operator returns the closed-form answer for the
  star + ring topology (independently derivable by hand);
- bounded runtime: round counts stay at their structural bounds (the
  loud-raise guards never fire, peel converges in a handful of
  rounds despite the hub);
- AQE skew handling: the frontier-vs-edges join shape these operators
  shuffle per round IS split by AQE's skew-join rule once partition
  sizes cross the thresholds (asserted on the executed plan with the
  thresholds scaled down to test-data sizes — at 100 TB the default
  256 MB threshold plays the same role).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reactionetl_etl_spark.operators import graph as G

N_SPOKES = 600  # hub edges = 600; ring edges = 599 → hub in >50%


@pytest.fixture(scope="module")
def hub_edges(spark):
    """Star + ring: node 0 joined to every spoke 1..N (hub in >50% of
    edges), spokes also chained 1-2-...-N (so k-core and multi-hop
    paths have structure beyond the star)."""
    hub = spark.range(1, N_SPOKES + 1).select(
        F.lit(0).alias("src"), F.col("id").alias("dst")
    )
    ring = spark.range(1, N_SPOKES).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    return hub.unionByName(ring).localCheckpoint(eager=True)


def test_hub_share_is_majority(hub_edges):
    total = hub_edges.count()
    hub = hub_edges.filter((F.col("src") == 0) | (F.col("dst") == 0)).count()
    assert hub / total > 0.5


def test_bfs_hops_on_hub_graph(hub_edges):
    """BFS from the hub: every spoke is exactly 1 hop. BFS from spoke 1
    (max 2 hops): hub and ring-neighbor 2 at hop 1; at hop 2 the hub
    fans out to ALL remaining spokes — the skew round — plus ring
    node 3 via the chain."""
    from_hub = {r["node"]: r["hops"] for r in G.bfs_hops(hub_edges, max_hops=2).collect()}
    assert from_hub[0] == 0
    assert all(from_hub[n] == 1 for n in range(1, N_SPOKES + 1))

    from_spoke = {
        r["node"]: r["hops"]
        for r in G.bfs_hops(hub_edges, max_hops=2, source=1).collect()
    }
    assert from_spoke[1] == 0
    assert from_spoke[0] == 1 and from_spoke[2] == 1
    # the hub's fan-out lands every other node at hop 2
    assert all(from_spoke[n] == 2 for n in range(3, N_SPOKES + 1))
    assert len(from_spoke) == N_SPOKES + 1


def test_k_core_peels_hub_graph(hub_edges):
    """k=2 core of star+ring = the whole graph (ring gives every spoke
    degree 2, endpoints 1 and N have ring-degree 1 + hub edge). k=3
    core is EMPTY: interior spokes have degree 3 but peeling endpoint
    spokes (degree 2) unravels the chain — the pathological
    one-layer-per-round case the max_iter guard documents. The
    convergence bound is the assertion: the hub does not inflate the
    round count past the structural bound."""
    core2 = G.k_core(hub_edges, k=2, max_iter=8)
    assert core2.count() == N_SPOKES + 1  # nobody peeled

    # k=3 peels endpoint-first, one chain layer per round: N_SPOKES/2
    # rounds would blow the guard — the guard raising IS the documented
    # contract for chain-like peels, so cap the fixture's depth instead
    # by using a gentler k on a denser wheel (spokes also chorded to
    # spoke+2): every node then has degree >= 4 except chord endpoints.
    chords = (
        hub_edges.sparkSession.range(1, N_SPOKES - 1)
        .select(F.col("id").alias("src"), (F.col("id") + 2).alias("dst"))
    )
    wheel = hub_edges.unionByName(chords)
    core3 = G.k_core(wheel, k=3, max_iter=8)
    # interior spokes keep (ring×2 + chord×2 + hub) ≥ 3; the wheel's 3-core
    # retains the hub (degree N) and every spoke that survives peeling
    assert core3.count() > N_SPOKES * 0.9


def test_bellman_ford_on_hub_graph(hub_edges):
    """Unit weights → Bellman-Ford costs == BFS hop counts; the relax
    join crosses the hub every round."""
    w = hub_edges.withColumn("w", F.lit(1).cast("long"))
    costs = {
        r["node"]: r["cost"]
        for r in G.bellman_ford_hops(w, max_hops=2, source=1).collect()
    }
    assert costs[1] == 0 and costs[0] == 1 and costs[2] == 1
    assert all(costs[n] == 2 for n in range(3, N_SPOKES + 1))


def test_pagerank_hub_dominates(hub_edges):
    """PageRank on the star+ring: the hub must hold the top rank by a
    wide margin, and the probability mass stays normalized (sum ≈ 1,
    dangling leak folded into teleport)."""
    pr = G.pagerank(hub_edges, n_iter=5).collect()
    ranks = {r["node"]: r["rank"] for r in pr}
    hub_rank = ranks[0]
    assert hub_rank == max(ranks.values())
    assert hub_rank > 10 * sorted(ranks.values())[len(ranks) // 2]
    assert abs(sum(ranks.values()) - 1.0) < 1e-6


def test_aqe_splits_hub_frontier_join(spark, session_confs):
    """The per-round frontier-vs-edges join is the skew point SCALING.md
    names. With the skew thresholds scaled to test-data sizes (the
    default 256 MB threshold plays this role at 100 TB), AQE must mark
    the hub join SortMergeJoin(skew=true) in the FINAL adaptive plan.
    Runtime-settable confs only; restored afterwards. The inputs have 8
    range partitions whatever the core count: AQE splits a skewed
    partition only along map outputs, and one map task leaves nothing
    to split."""
    n = 20_000
    hub = spark.range(1, n + 1, 1, 8).select(
        F.lit(0).alias("src"), F.col("id").alias("dst"),
        F.md5(F.col("id").cast("string")).alias("pad"),
    )
    ring = spark.range(1, n, 1, 8).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"),
        F.md5(F.col("id").cast("string")).alias("pad"),
    )
    edges = hub.unionByName(ring)
    sym = edges.select(F.col("src").alias("s"), F.col("dst").alias("d"), "pad").unionByName(
        edges.select(F.col("dst").alias("s"), F.col("src").alias("d"), "pad")
    )
    frontier = spark.range(0, n + 1, 1, 8).select(F.col("id").alias("node"))

    session_confs(
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        }
    )
    j = frontier.join(sym, frontier.node == sym.s).select("d")
    rows = j.count()
    # collect() finalizes THIS DataFrame's adaptive plan (a noop
    # write would execute a separate QueryExecution)
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert rows == 2 * (2 * n - 1)  # symmetrized edge count
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, plan[:2000]


def test_betweenness_on_pure_star_closed_form(spark):
    """k-source betweenness on a PURE star has an exact hand answer:
    from the hub source no node lies between anything (all spokes are
    level 1); from each of the 3 spoke sources every path to the other
    N-1 spokes runs through the hub, contributing (N-1) dependency —
    so B(hub) = 3·(N-1) exactly, every spoke 0, ONE output row. The
    hub sits in 100% of edges, the harshest skew this operator can
    see; the level joins inflate, the stage count does not."""
    from reactionetl_etl_spark.operators.graph import betweenness_ksource

    star = spark.range(1, N_SPOKES + 1).select(
        F.lit(0).alias("src"), F.col("id").alias("dst")
    )
    rows = betweenness_ksource(star, n_sources=4).collect()
    assert [(r["node"], r["bc_micro"]) for r in rows] == [
        (0, 3 * (N_SPOKES - 1) * 1_000_000)
    ]
