"""Graph operators: connected components, PageRank, triangle counting.

Connected components: duplicate-pair candidates → duplicate CLUSTERS.

Pair-level dedup (MinHash/SimHash/Jaccard) emits edges; what a training
-data pipeline actually needs is the transitive closure — "these 17
docs are all one document" — so one keeper survives per CLUSTER, not
per pair (pairwise keeper-selection double-drops when A~B and B~C but
A!~C).

Algorithm: iterative min-label propagation with POINTER HALVING, all
DataFrame ops:

    label(v) ← min over neighbors u of label(u)   (one-hop flow)
    label(v) ← label(label(v))                    (path compression)

repeated until a fixed point. Each iteration is two keyed shuffles
(edge-key join + groupBy-min, then a comp-keyed jump join); the jump
halves remaining chain lengths, so rounds needed = O(log diameter) —
the same convergence class as Kiveris et al.'s large-star/small-star
("Connected Components in MapReduce", SOCC'14 — public) with a
simpler per-round plan. Near-dup clusters (diameter ≤ ~3) converge in
2-3 rounds; even a diameter-10⁶ adversarial chain needs ~20.

Driver involvement is one convergence count per iteration (a scalar).
Labels are EAGERLY localCheckpoint'ed per round: a persist() would
cache the data but leave the logical plan as the fully-unrolled
iteration tree (measured: 210 source scans / 728 exchanges in the
returned plan after convergence on the dedup fixture — re-evaluated
wholesale if the cache ever dropped). The checkpoint truncates lineage
to a leaf each round, so every iteration's plan is exactly one join
deep and the RETURNED frame is a self-contained in-memory table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reactionetl_etl_spark.io.files import local_frame


# Edge-count bound of the driver-side fast path shared by
# `connected_components`, `triangle_counts` and
# `community.label_propagation` (≈ a few MB of id pairs): at or below
# it the operator runs its recurrence on the driver, above it the
# distributed loop. The path caps overhead, never scale.
SMALL_GRAPH_MAX_EDGES = 200_000


def _small_graph_edges(edges: DataFrame, src: str, dst: str) -> list | None:
    """The (src, dst) rows of ``edges`` when there are at most
    SMALL_GRAPH_MAX_EDGES of them, else None.

    ONE bounded action on the RAW edge plan doubles as size probe + edge
    fetch: ``limit(max+1).collect()`` either proves the graph is small
    (and the caller already holds the edges — no symmetrize/distinct
    shuffle, no checkpoint job, none of the 32 sequential
    toLocalIterator fetches behind the r6 7x regression) or stops
    fetching past the bound. NULL endpoints are dropped up front (r15):
    the distributed loops' `a != b` filters silently drop such edges,
    while Python's `<`/min/sorted raise TypeError on None."""
    head = (
        edges.select(src, dst)
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .limit(SMALL_GRAPH_MAX_EDGES + 1)
        .collect()
    )
    return head if len(head) <= SMALL_GRAPH_MAX_EDGES else None


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``
    (undirected); component = smallest node id reachable. Deterministic:
    pure min-propagation, no RNG, no partition-id dependence.

    Adaptive strategy: dedup candidate graphs are usually a sliver of
    the corpus — thousands of edges even when the table is billions of
    rows — and the iterative path pays 2-3 Spark jobs per round just in
    scheduling for such graphs. At or below ``SMALL_GRAPH_MAX_EDGES``
    edges the closure is computed in one pass with a driver union-find
    — identical labels, zero iterations. Bigger graphs keep the
    distributed propagation loop."""
    head = _small_graph_edges(edges, src, dst)
    if head is not None:
        # Union-find needs neither dedup nor symmetry — repeats and
        # direction just cost a find() each.
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in head:
            if a == b:  # self-loops are dropped, as in the a != b
                continue  # filter on the distributed path
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:  # min-label: smaller root wins
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        out_schema = edges.select(
            F.col(src).alias("node"), F.col(dst).alias("component")
        ).schema
        # One partition: a local frame is sliced into up to
        # defaultParallelism partitions, so every consumer aggregate of
        # this few-thousand-row result would pay a full-width scan and
        # exchange (~0.26 s of scheduling per job at bench scale, r15).
        # Coalescing a local relation is cheap; the r12 hazard was
        # pickled Python-list partitions.
        return local_frame(
            edges.sparkSession, sorted((n, find(n)) for n in parent), out_schema
        ).coalesce(1)

    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    # one checkpoint for the edge set: the candidate-generation plan
    # (LSH/blocking joins) is evaluated once, not once per round
    sym = sym.filter(F.col("a") != F.col("b")).distinct().localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("node")).distinct().withColumn("comp", F.col("node"))
    ).localCheckpoint(eager=True)

    changed = -1
    for _ in range(max_iter):
        # neighbor labels flow along edges: node a hears b's label
        msgs = sym.join(labels, on=sym.b == labels.node, how="inner").select(
            F.col("a").alias("node"), F.col("comp")
        )
        stepped = labels.unionByName(msgs).groupBy("node").agg(
            F.min("comp").alias("comp")
        )
        # POINTER HALVING (path compression): v's label jumps to its
        # label's label — min-propagation alone moves a label one hop
        # per round, O(diameter) rounds, and a long-chain graph past
        # SMALL_GRAPH_MAX_EDGES would exhaust max_iter; with the jump, chains
        # collapse in O(log diameter) rounds (max_iter=20 covers
        # diameter ~2^20). One extra comp-keyed join per round; labels
        # only ever DECREASE toward the true min, so convergence and
        # determinism are unchanged.
        jump = stepped.select(
            F.col("node").alias("comp"), F.col("comp").alias("__comp2")
        )
        new_labels = (
            stepped.join(jump, on="comp", how="left")
            .select("node", F.coalesce("__comp2", "comp").alias("comp"))
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # a silently-unconverged result would hand callers WRONG
        # components; with halving this needs diameter > 2^max_iter
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter is astronomically large); raise max_iter"
        )
    return labels.select(F.col("node"), F.col("comp").alias("component"))


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, degree, n_triangles) for every node of an UNDIRECTED
    graph — the local-clustering / community-density primitive (how
    tightly a part's co-purchase neighborhood interlinks, how cliquish
    a dup-cluster's candidate edges are).

    Algorithm: degree-ordered wedge join (the MapReduce triangle
    scheme of Suri & Vassilvitskii, "Counting Triangles and the Curse
    of the Last Reducer", WWW'11 — public). Every edge is ORIENTED
    from its lower-(degree, id) endpoint to its higher one; wedges are
    generated only at an edge's LOW endpoint, so a node emits
    C(out-deg, 2) pairs where out-degree is bounded by O(√m) —
    a star graph's hub generates ZERO wedges instead of O(n²), which
    is exactly the skew failure a naive neighbor self-join hits at
    scale. Each triangle is generated exactly once (at its
    lowest-ranked vertex) and closed by one equi-join against the
    oriented edge set keyed on the (a, b) endpoint pair.

    Shuffles: canonical-edge distinct, degree groupBy, two degree
    joins, the wedge self-join (keyed on the pivot node), the closing
    join (keyed on the endpoint pair), one final explode + groupBy.
    All keys are node ids or node pairs — nothing is ever keyed on a
    partition-unbounded value. Deterministic: no RNG, ties in the
    degree order broken by node id."""
    head = _small_graph_edges(edges, src, dst)
    if head is not None:
        # Small-graph fast path (r14): the benched co-purchase graph is
        # ~3.6k edges, yet the distributed wedge pipeline paid two eager
        # checkpoints + a degree groupBy + two rank joins + the wedge
        # self-join + the closing join in scheduling overhead for it.
        # The SAME counts come from a driver pass: canonicalize + dedup
        # edges, count degrees, orient each edge by (degree, id), and
        # close wedges against a neighbor-set dict — integer-exact,
        # identical output (value-oracled cross-engine).
        es = {(a, b) if a < b else (b, a) for a, b in head if a != b}
        deg: dict = {}
        for u, v in es:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        out_nbrs: dict = {}
        for u, v in es:
            lo, hi = (u, v) if (deg[u], u) < (deg[v], v) else (v, u)
            out_nbrs.setdefault(lo, set()).add(hi)
        tri = {n: 0 for n in deg}
        for s, outs in out_nbrs.items():
            for a in outs:
                for b in outs & out_nbrs.get(a, set()):
                    tri[s] += 1
                    tri[a] += 1
                    tri[b] += 1
        out_schema = edges.select(
            F.col(src).alias("node"),
            F.lit(0).cast("long").alias("degree"),
            F.lit(0).cast("long").alias("n_triangles"),
        ).schema
        # one partition, as in connected_components' fast path
        return local_frame(
            edges.sparkSession, sorted((n, deg[n], tri[n]) for n in deg), out_schema
        ).coalesce(1)

    # checkpoint the canonical edge set FIRST: it feeds the degree
    # count, two rank joins, and (via `oriented`) the wedge stages —
    # without it the caller's edge-derivation plan (often a fact
    # self-join) replays once per consumer
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    ).localCheckpoint(eager=True)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    ranked = e.join(
        deg.select(F.col("node").alias("u"), F.col("degree").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("degree").alias("dv")), "v")
    rk_u = F.struct(F.col("du").alias("d"), F.col("u").alias("n"))
    rk_v = F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    lo_first = rk_u < rk_v
    # one checkpoint: the oriented edge set feeds THREE scans below
    # (both wedge sides + the closing join) and its lineage contains
    # the caller's whole edge-derivation plan (often a fact self-join)
    oriented = ranked.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(lo_first, rk_v).otherwise(rk_u).alias("rt"),
    ).localCheckpoint(eager=True)

    x = oriented.select("s", F.col("t").alias("a"), F.col("rt").alias("ra"))
    y = oriented.select("s", F.col("t").alias("b"), F.col("rt").alias("rb"))
    wedges = x.join(y, "s").filter(F.col("ra") < F.col("rb")).select("s", "a", "b")
    closing = oriented.select(F.col("s").alias("a"), F.col("t").alias("b"))
    tris = wedges.join(closing, ["a", "b"]).select("s", "a", "b")
    per_node = (
        tris.select(F.explode(F.array("s", "a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce("n_triangles", F.lit(0).cast("long")).alias("n_triangles"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
    directed: bool = False,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """(node, rank) after ``n_iter`` power iterations of PageRank —
    centrality over an edge list (co-purchase affinity, citation,
    dup-cluster adjacency). Fixed iteration count, synchronous
    updates, deterministic: no RNG, no partition-order dependence, so
    two runs (or two engines) agree bit-for-bit given the same edges.

    Spark shape: one shuffle per iteration — contributions =
    rank/degree routed along edges (join on the source key), then a
    groupBy-sum on the destination; dangling nodes (no out-edges)
    leak their mass to the teleport term, the standard simplification.
    Ranks are eagerly localCheckpoint'ed per round (the
    `connected_components` lesson: persist() leaves an unrolled
    n_iter-deep plan that re-evaluates wholesale if the cache drops).
    At 100 TB the edge frame is the big side and it is scanned once
    per iteration, hash-partitioned on the join key; ranks are
    node-sized. ``directed=False`` symmetrizes the edges first.

    ``seeds`` (a 1-column DataFrame of node ids) switches to
    PERSONALIZED PageRank: the teleport mass lands only on the seed
    set (uniformly), so ranks measure proximity TO the seeds — the
    "more like these" primitive (expand a curated doc set, find parts
    that co-purchase with a seed basket). Same recurrence, same
    per-iteration shape; the seed flag is one broadcast-sized join on
    the node table. Seed nodes absent from the graph are ignored.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    if not directed:
        e = e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    e = e.distinct().localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if seeds is not None:
        seed_nodes = (
            nodes.join(
                F.broadcast(seeds.toDF("node").select("node").distinct()), "node"
            ).localCheckpoint(eager=True)
        )
        n_seed = seed_nodes.count()
        if n_seed == 0:
            raise ValueError("no seed node appears in the graph")
        flagged = nodes.join(
            F.broadcast(seed_nodes.withColumn("__seed", F.lit(True))), "node", "left"
        ).select("node", F.coalesce("__seed", F.lit(False)).alias("__seed"))
        init = F.when(F.col("__seed"), F.lit(1.0 / n_seed)).otherwise(F.lit(0.0))
        teleport = F.when(
            F.col("__seed"), F.lit((1.0 - damping) / n_seed)
        ).otherwise(F.lit(0.0))
    else:
        n = nodes.count()
        flagged = nodes.withColumn("__seed", F.lit(True))
        init = F.lit(1.0 / n)
        teleport = F.lit((1.0 - damping) / n)
    flagged = flagged.localCheckpoint(eager=True)
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    ranks = flagged.select("node", init.alias("rank"))
    for _ in range(n_iter):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "s"), on="s")
            .join(deg, on="s")
            .select(F.col("d").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            flagged.join(contrib, on="node", how="left")
            .select(
                "node",
                (
                    teleport
                    + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def bfs_hops(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
    source=None,
) -> DataFrame:
    """(node, hops) — unweighted shortest-path distance from ``source``
    to every node within ``max_hops`` (undirected BFS). ``source``
    defaults to the smallest node id in the graph, so the query is
    deterministic and scale-independent without hard-coding an id.

    Spark shape: classic frontier expansion — per level, one keyed join
    of the (tiny) frontier against the symmetrized edge set, an
    anti-join against the visited set, one eager checkpoint (the
    `connected_components` lineage lesson). Level count is bounded by
    ``max_hops``, so the plan never unrolls past a constant depth; the
    edge set is scanned once per level, hash-partitioned on the join
    key — the same per-iteration cost envelope as PageRank. Frontier
    and visited sets are node-sized, never edge-sized.
    """
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if source is None:
        source = sym.agg(F.min("s")).collect()[0][0]  # scalar probe
    visited = (
        sym.select(F.col("s").alias("node"))
        .filter(F.col("node") == source)
        .distinct()
        .withColumn("hops", F.lit(0).cast("int"))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier.node == sym.s)
            .select(F.col("d").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("int"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(node, core_degree) for the k-core: the maximal subgraph where
    every node keeps degree >= k after iteratively peeling lower-degree
    nodes — the standard dense-community filter (spam rings in dup
    graphs, staple baskets in co-purchase graphs).

    Spark shape: per round, one degree aggregate + two semi-joins that
    drop edges touching a peeled node, checkpointed so each round's
    plan is one join deep. Each round strictly shrinks the edge set or
    terminates, and in practice peeling converges in a handful of
    rounds (peeling a chain one link per round is the pathological
    case — ``max_iter`` guards it with a loud raise, the
    `connected_components` discipline). Everything shuffles on node
    ids; no driver-side data beyond the per-round edge count.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = e.count()
    for _ in range(max_iter):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        e2 = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        n2 = e2.count()
        if n2 == n_edges:
            return (
                e.select(F.col("u").alias("node"))
                .unionByName(e.select(F.col("v").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("core_degree"))
            )
        e, n_edges = e2, n2
    raise RuntimeError(
        f"k_core did not converge in {max_iter} peeling rounds; "
        "raise max_iter (chain-like graphs peel one layer per round)"
    )


def bellman_ford_hops(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_hops: int = 3,
    source=None,
) -> DataFrame:
    """(node, cost) — cheapest path cost from ``source`` to every node
    reachable within ``max_hops`` edges (undirected, non-negative
    integer weights → integer-exact, no float accumulation). The
    weighted sibling of :func:`bfs_hops`: per round, every known
    distance relaxes across the edge set (one keyed join + one min
    aggregate), Bellman-Ford with a bounded round count — the plan
    never unrolls past ``max_hops`` joins and the distance table stays
    node-sized. ``source`` defaults to the smallest node id.

    Semantics note: this is cheapest-within-k-hops, not global
    shortest-path — at 100 TB the hop bound is the point (neighborhood
    costs around a seed), and unbounded Bellman-Ford is just
    ``max_hops = |V|-1`` on the same loop.
    """
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"), F.col(weight).alias("w"))
        .unionByName(
            edges.select(
                F.col(dst).alias("s"), F.col(src).alias("d"), F.col(weight).alias("w")
            )
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if source is None:
        source = sym.agg(F.min("s")).collect()[0][0]
    dist = (
        sym.select(F.col("s").alias("node"))
        .filter(F.col("node") == source)
        .distinct()
        .withColumn("cost", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_hops):
        relaxed = (
            dist.join(sym, dist.node == sym.s)
            .select(F.col("d").alias("node"), (F.col("cost") + F.col("w")).alias("cost"))
            .unionByName(dist)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint(eager=True)
        )
        dist = relaxed
    return dist


def betweenness_ksource(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_sources: int = 4,
) -> DataFrame:
    """k-source betweenness centrality (Brandes 2001), depth ≤ 3 —
    (node, bc_micro) for every node with positive centrality.

    ``edges`` is an UNDIRECTED pair list (one row per pair; symmetrized
    internally); sources are the ``n_sources`` smallest node ids, so
    the estimate is deterministic at every scale (k fixed sources IS
    the standard betweenness estimator — Brandes-Pich 2007). The depth
    bound unrolls both Brandes passes into explicit keyed join+agg
    stages: forward accumulates integer path counts σ per (source,
    node) level by level; backward accumulates dependencies
    δ = Σ (σᵥ·(10⁶+δ_w)) DIV σ_w in TRUNCATED-integer micro-units —
    per-term division, so every sum is order- and partition-
    independent. State is (sources × nodes) rows; each stage is an
    equi-join on node id. Hub skew inflates one level's join, never
    the stage count — AQE's skew split applies, same axis as BFS
    (tests/test_graph_skew.py pins the star-graph closed form)."""
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
        .localCheckpoint(eager=True)  # every level of both passes reads it
    )
    srcs = (
        sym.select("s").distinct().orderBy("s").limit(n_sources)
        .select(F.col("s").alias("k"))
    )
    l1 = (
        srcs.join(sym, srcs.k == sym.s)
        .groupBy("k", F.col("d").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("sigma"))
        .localCheckpoint(eager=True)
    )

    def next_level(cur: DataFrame, *visited: DataFrame) -> DataFrame:
        cand = (
            cur.join(sym, cur.v == sym.s)
            .filter(F.col("d") != F.col("k"))
            .select("k", F.col("d").alias("nv"), "sigma")
        )
        for seen in visited:
            cand = cand.join(
                seen.select(F.col("k").alias("sk"), F.col("v").alias("sv")),
                (F.col("k") == F.col("sk")) & (F.col("nv") == F.col("sv")),
                "left_anti",
            )
        return (
            cand.groupBy("k", F.col("nv").alias("v"))
            .agg(F.sum("sigma").cast("long").alias("sigma"))
            .localCheckpoint(eager=True)
        )

    l2 = next_level(l1, l1)
    l3 = next_level(l2, l1, l2)

    def back_step(
        cur: DataFrame, nxt: DataFrame, nxt_delta: DataFrame | None
    ) -> DataFrame:
        succ = nxt.select(
            F.col("k").alias("nk"),
            F.col("v").alias("nv"),
            F.col("sigma").alias("nsigma"),
        )
        j = cur.join(sym, cur.v == sym.s).join(
            succ, (F.col("k") == F.col("nk")) & (F.col("d") == F.col("nv"))
        )
        if nxt_delta is not None:
            dd = nxt_delta.select(
                F.col("k").alias("dk"),
                F.col("v").alias("dv"),
                F.col("delta").alias("ndelta"),
            )
            j = j.join(
                dd,
                (F.col("nk") == F.col("dk")) & (F.col("nv") == F.col("dv")),
                "left",
            ).withColumn("ndelta", F.coalesce(F.col("ndelta"), F.lit(0)))
        else:
            j = j.withColumn("ndelta", F.lit(0))
        return (
            j.select(
                "k",
                "v",
                F.expr("(sigma * (1000000 + ndelta)) DIV nsigma").alias("term"),
            )
            .groupBy("k", "v")
            .agg(F.sum("term").cast("long").alias("delta"))
        )

    d2 = back_step(l2, l3, None).localCheckpoint(eager=True)
    d1 = back_step(l1, l2, d2)
    return (
        d1.unionByName(d2)
        .groupBy(F.col("v").alias("node"))
        .agg(F.sum("delta").cast("long").alias("bc_micro"))
        .filter(F.col("bc_micro") > 0)
    )
