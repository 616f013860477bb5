"""Distributed graph operators for dedup clustering.

``connected_components`` turns near-duplicate PAIRS (the output of the
minhash/simhash/jaccard operators in dedup.py) into canonical GROUPS —
the step a real training-data pipeline needs before it can keep one
representative per cluster.  Pairs alone under-delete: if A~B and B~C but
A!~C, keeping "first of each pair" drops B twice and keeps A and C even
though they belong to one cluster.

Algorithm: hash-min label propagation (the standard MapReduce CC
formulation, cf. Kiveris et al. "Connected Components in MapReduce and
Beyond", SOCC'14 — the simple variant, which converges in O(diameter)
rounds; near-dup graphs are union-of-cliques-ish, so diameter is small).
Each round is one shuffle (join labels to edges + min-aggregate); lineage
is truncated every round with ``localCheckpoint`` so the plan doesn't grow
exponentially across iterations.  No driver-side row state — the only
driver values are the per-round changed-count (one scalar action), so the
operator scales to any number of nodes/edges the cluster holds.

On a real cluster, prefer ``spark.sparkContext.setCheckpointDir`` +
``checkpoint`` over ``localCheckpoint`` for fault tolerance; local mode
has no executor loss, so the cheap variant is used here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list.

    Returns ``(node, component)`` with ``component`` = the smallest node id
    reachable from ``node`` (deterministic canonical label).  ``nodes``
    optionally supplies isolated vertices (no incident edge) as a
    single-column DataFrame named ``node``; they come back as their own
    singleton components.

    Raises ``RuntimeError`` if the labels have not converged after
    ``max_iters`` rounds (diameter larger than max_iters — raise it).
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    sym = sym.localCheckpoint(eager=True)

    # Iterate ONLY over edge-incident nodes: in a near-dup graph the vast
    # majority of vertices are isolated, and carrying them through every
    # round's join/shuffle buys nothing — singletons are appended after
    # convergence with one anti-join.
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    labels = labels.localCheckpoint(eager=True)

    def with_singletons(lab: DataFrame) -> DataFrame:
        if nodes is None:
            return lab
        singles = (
            nodes.select(F.col("node"))
            .distinct()
            .join(lab.select("node"), "node", "left_anti")
            .withColumn("component", F.col("node"))
        )
        return lab.unionByName(singles)

    for _ in range(max_iters):
        # min label among neighbors; NULL for isolated nodes
        nbr_min = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", "component")
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("changed"),
            )
        ).localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("changed")).limit(1).count()
        labels = new_labels.drop("changed")
        if changed == 0:
            return with_singletons(labels)
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds"
    )


def pagerank_nano(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank over a directed edge list, computed ENTIRELY in integer
    nano-units so every iteration is bit-exact and cross-engine
    reproducible (a float PageRank's sum fold order varies with
    partitioning — see the numeric rules in plans/registry.py).

    Semantics per iteration (N = |nodes|, d = damping_pct/100):
      contribution(u->v) = rank(u) div outdeg(u)      -- integer division
      rank'(v) = (1e9 - d*1e9/100) div N
                 + (d * sum(contributions to v)) div 100
    Dangling nodes (outdeg 0) leak their mass — the classic simplified
    formulation (Page et al. 1999 without the dangling redistribution);
    the oracle replays the SAME recurrence, so the hash match proves the
    distributed iteration, not a numeric coincidence.

    Scale shape: each iteration is ONE edges⋈ranks equi-join on the
    source id plus one dst-keyed integer SUM — the canonical Pregel/
    GraphX plan re-expressed as DataFrame ops; lineage is truncated per
    round with localCheckpoint.  Two pieces of STATIC state are hoisted
    out of the loop (the GraphX discipline of separating immutable
    attributes from the mutable vertex state):
      * outdeg, folded into the edge list once and checkpointed (r13 —
        the naive form re-joined it every round, an extra edges-sized
        join x iters);
      * the NO-IN-EDGE node set (r14): a node outside distinct(dst)
        receives no contribution in ANY round, so its rank is the
        constant teleport base every iteration.  The naive form
        re-derived that fact each round by left-joining the full nodes
        table against contribs — a nodes-sized scan + shuffle + join x
        iters; here the sink set is computed once (anti-join, bounded
        by the node count) and each round just UNIONs it onto the
        contribution ranks, a shuffle-free concat;
      * ROUND 1's JOIN (r15): the initial ranks are the uniform
        constant 1e9 div n, so the first round's contribution is pure
        edge arithmetic (init div outdeg, one dst-keyed SUM) — no ranks
        join at all.  (The fuller dangling-mass fold — excluding sinks
        from the loop state entirely — was MEASURED NEGATIVE and is
        recorded as a dead end below.)
    Driver state: none (the loop count is fixed).  Returns
    (node, rank_nano).
    """
    n = nodes.count()
    if n == 0:
        return nodes.select(
            F.col("node"), F.lit(0).cast("long").alias("rank_nano")
        )
    init = 1_000_000_000 // n
    base = int((100 - damping_pct) * 1_000_000_000 // 100 // n)
    if int(iters) <= 0:
        return nodes.select(
            "node", F.lit(init).cast("long").alias("rank_nano")
        )
    # ONE explicit src-hash exchange of the raw edges, shared by the
    # outdeg aggregate and the attribute join below (identical canonical
    # Exchange subtrees -> ReuseExchange dedupes them in the first
    # materialization), replacing the two independent edges-sized
    # shuffles the naive build paid.
    edges_p = edges.select("src", "dst").repartition("src")
    outdeg = edges_p.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    )
    # Immutable edge attributes, materialized once: (src, dst, outdeg),
    # CACHED pre-partitioned on src and sorted within partitions.  The
    # r13 localCheckpoint form lost the partitioning through LogicalRDD
    # (AQE's final partitioning isn't exposed statically), so every
    # iteration re-shuffled AND re-sorted the edges side of the rank
    # join — at 1000x that was a 1.1 GB re-shuffle + 10M-row sort per
    # round (stage profile in BASELINE.md r14).  An InMemoryRelation
    # preserves both outputPartitioning and outputOrdering
    # (canChangeCachedPlanOutputPartitioning=false is the default), so
    # the per-iteration sort-merge join now exchanges and sorts ONLY the
    # ranks side.
    edges_deg = (
        edges_p.join(outdeg, "src")
        .select("src", "dst", "outdeg")
        .persist()
    )
    # ITERATION 1 NEEDS NO JOIN (r15): the initial ranks are the uniform
    # constant init = 1e9 div n, so round 1's contribution is pure edge
    # arithmetic — init div outdeg per edge, one dst-keyed SUM.  The r14
    # form joined the uniform ranks table against every edge to compute
    # the same constant.
    contribs1 = (
        edges_deg.select(
            F.col("dst").alias("node"), F.expr(f"{init} div outdeg").alias("c")
        )
        .groupBy("node")
        .agg(F.sum("c").cast("long").alias("in_sum"))
    )
    # Nodes with no in-edge hold the constant teleport base from round 1
    # on.  contribs1's key set IS distinct(dst) (deriving it here skips a
    # 2|E|-row DISTINCT — 544 exec-s of the x10000 stage profile; the
    # shared contribs1 subtree dedupes via shuffle-stage reuse).
    #
    # MEASURED DEAD END (r15, VERDICT r14 #8 — recorded so it is not
    # re-attempted): folding the sinks' constant out-contributions into
    # each round's aggregate (loop state excluding sinks, a precomputed
    # const leg unioned into the SUM) read 22.4 vs 12.6 s best at x1000
    # in a same-window interleaved A/B (DEADENDS.md) —
    # the fold needs an edges-sized anti-join materialization + a semi-
    # join pass to split the edge list, two one-time full edge passes
    # that cost more than iters-1 rounds of sink savings; on this
    # corpus's graph (two coprime modular bijections) the sink set is
    # EMPTY, making the overhead pure loss.  The joinless round 1 above
    # is the part of #8 that survived measurement.
    sinks = (
        nodes.join(contribs1, "node", "left_anti")
        .select("node", F.lit(base).cast("long").alias("rank_nano"))
        .localCheckpoint(eager=False)
    )
    ranks = (
        contribs1.selectExpr(
            "node",
            f"cast({base} + ({damping_pct} * in_sum) div 100 AS bigint)"
            " AS rank_nano",
        )
        .unionAll(sinks)
        .localCheckpoint(eager=False)
    )
    for _ in range(int(iters) - 1):
        # SHUFFLE_HASH on the ranks side: the ranks table is the small
        # side (one row per node vs one per edge) and hash-building it
        # skips the per-iteration sort-merge sorts of BOTH sides — the
        # dominant exec cost in the r14 stage profile.
        contribs = (
            edges_deg.join(ranks.hint("shuffle_hash"), edges_deg.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_nano div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("in_sum"))
        )
        ranks = (
            contribs.selectExpr(
                "node",
                f"cast({base} + ({damping_pct} * in_sum) div 100"
                " AS bigint) AS rank_nano",
            )
            .unionAll(sinks)
            # per-round lineage truncation; measured FASTER than letting
            # the unrolled chain plan as one adaptive execution (A/B at
            # 1000x: 12.6 s checkpointed vs 15.0 s unrolled — the deep
            # DAG's replan outweighs the materialization pass)
            .localCheckpoint(eager=False)
        )
    return ranks


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-depth BFS: shortest hop-distance (<= ``max_depth``) from a
    seed set over a DIRECTED edge list.  Returns (node, dist).

    Frontier expansion, the Pregel shape shared with pagerank_nano /
    connected_components: each round joins the current frontier to the
    edge list (edges are the big side and stream; the shrinking frontier
    is the probe), anti-joins already-visited nodes, and localCheckpoints
    to truncate lineage.  ``max_depth`` rounds bound the driver loop; at
    any corpus size the per-round work is |frontier ⋈ edges|, never the
    transitive closure.
    """
    dist = seeds.selectExpr("node", "CAST(0 AS INT) AS dist").localCheckpoint(
        eager=True
    )
    frontier = dist.select("node")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    for depth in range(1, int(max_depth) + 1):
        nxt = (
            e.join(frontier, e["_s"] == frontier["node"])
            .select(F.col("_d").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(depth).cast("int"))
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        dist = dist.unionByName(nxt)
        frontier = nxt.select("node")
    return dist


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact global triangle count over an edge list (directed input is
    canonicalized to undirected).  Returns one row (n_nodes_in_edges,
    n_edges, n_triangles).

    Shape (the standard distributed formulation — e.g. Suri & Vassilvitskii
    2011's MR triangle counting): canonicalize each edge to (lo, hi) and
    DISTINCT it, then count paths a<b<c with edges (a,b) and (b,c) closed
    by (a,c) — two hash equi-joins over the ordered edge relation, never a
    node×node product.  The a<b<c orientation means every triangle is
    produced exactly once AND each join key's fan-out is the node's
    HIGHER-ordered degree, the trick that bounds skew from hub nodes
    (ordering by raw id here; by degree in an adversarial-skew deployment
    — same plan, different ordering key).
    """
    e = (
        edges.selectExpr(
            f"least({src}, {dst}) AS a", f"greatest({src}, {dst}) AS b"
        )
        .where("a <> b")
        .distinct()
    )
    ab = e.selectExpr("a", "b")
    bc = e.selectExpr("a AS b2", "b AS c")
    ac = e.selectExpr("a AS a3", "b AS c3")
    paths = ab.join(bc, ab.b == bc.b2).selectExpr("a", "b", "c")
    tri = paths.join(ac, (paths.a == ac.a3) & (paths.c == ac.c3))
    nodes = (
        e.selectExpr("a AS x")
        .union(e.selectExpr("b AS x"))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes_in_edges"))
    )
    return nodes.crossJoin(
        e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    ).crossJoin(tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles")))
