"""Iterative graph operators and one-pass graph statistics.

Spark has no built-in iterative-graph operator; the idiomatic shape is
a bounded loop of join+aggregate rounds over an edge DataFrame whose
lineage is truncated every few rounds, so the plan stays bounded.
Four loop bodies follow that shape, with no driver-side collects and
no Python row work:

- :func:`_power_iteration`: ``pagerank`` and ``personalized_pagerank``;
- :func:`connected_components`: also ``dedup.dedup_clusters``;
- :func:`_relax`, frontier Bellman-Ford relaxation: ``bfs_distances``
  (unit weights) and ``sssp_bounded``;
- :func:`kcore`'s peel.

Partitioning: PageRank persists its edge frame as
``repartition(defaultParallelism, "src")`` plus the out-degree as a
window over ``src``: one ``src`` shuffle feeds both, and the cached
plan keeps ``hashpartitioning(src)`` (a checkpoint would report
``UnknownPartitioning(0)``). Stages of one warm ``op_pagerank`` at
sf0.1 (3 rounds, local[4] on a 4-core host, session defaults):

    step                                      tasks   time             shuffle write
    setup: orders ⋈ lineitem, partial dedup   1+3     0.48 s           5.3 MB
    setup: distinct pairs, explode, src       1       0.73 s           11.2 MB
    setup: deg window, edge cache, node set   4       0.39 s           -
    setup: node cache + |V| count             4+4+1   0.08 s           -
    round 1: rank-side broadcast              4       0.03 s           -
    rounds 1-3: join + partial aggregate      4 each  0.08/0.10/0.06 s 0.8 MB each
    rounds 1-3: final aggregate               1 each  0.04/0.04/0.06 s -

Every round streams the 4 cached edge partitions and AQE broadcasts
the |V|-sized rank side; where that side is too large to broadcast, a
round shuffles only it. A checkpointed edge frame measured worse:
rounds 2 and 3 each wrote a 6.9 MB edge exchange and ran as 1 task of
~350 ms, and the op took 18 jobs instead of 15.

Components: :func:`connected_components` is the engine's one
components loop (``dedup.dedup_clusters`` renames its columns around
it). Each round is a hashmin aggregate plus a pointer jump through the
persisted previous round, materialized once and probed once; every
4th round truncates the lineage.

Public algorithms: PageRank (Brin/Page), label-propagation connected
components (the min-label hashmin variant used by e.g. GraphFrames,
with pointer jumping), bounded Bellman-Ford, k-core peeling.

Cache contract (uniform across the iterative ops, enforced by
:class:`caching._CacheOwner`): the RETURNED frame is persisted and
already materialized; every internal cache — adjacency, loop invariants,
per-round checkpoints and frontiers — is released when the op exits,
whether it returns, raises or has its jobs cancelled. The caller owns
the single remaining cache and may ``result.unpersist()`` when done;
``tests/test_graph.py`` asserts the persistent-RDD ledger returns to
baseline after that, and after a raise or a cancelled job group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .caching import _CacheOwner, _TruncatedFrame


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected edge set: one ``(lo, hi)`` row per distinct
    non-loop edge, ``lo < hi``."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
    )


def _pair_rows(df: DataFrame, *pairs: tuple[str, str], carry: tuple[str, ...] = ()) -> DataFrame:
    """One ``(a, b, *carry)`` row per ``(a, b)`` column pair for each
    row of ``df``. The rows come from one explode over a single pass,
    so a derived ``df`` is evaluated once, not once per pair."""
    return df.select(
        F.explode(
            F.array(
                *(F.struct(F.col(x).alias("a"), F.col(y).alias("b"), *carry) for x, y in pairs)
            )
        ).alias("e")
    ).select("e.a", "e.b", *(f"e.{c}" for c in carry))


def _power_iteration(
    edges: DataFrame,
    iters: int,
    damping: float,
    src: str,
    dst: str,
    edges_distinct: bool,
    symmetric: bool,
    rank_terms,
) -> DataFrame:
    """The one PageRank body. ``rank_terms(nodes)`` sees the persisted
    ``node`` frame and returns the ``(start, teleport)`` columns over
    ``node`` — start rank and the ``(1−d)``-weighted teleport term — or
    ``None`` when the graph has no nodes (the result is then empty).

    Update: ``r'(v) = teleport(v) + d·Σ_{u→v} r(u)/outdeg(u)``."""
    with _CacheOwner() as caches:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        if not edges_distinct:
            e = e.distinct()
        # cache the edge frame before anything is derived from it:
        # Spark re-evaluates repeated unpersisted subtrees, and with a
        # real join feeding the edge list (op_pagerank: orders⋈lineitem
        # + distinct) the input ran up to 4×. The loop-invariant
        # out-degree rides along as a window over the ``src``
        # repartition, which needs no exchange of its own: ONE ``src``
        # shuffle feeds the degree and the cache, and each round is a
        # single join + one aggregate. A persist, not a checkpoint: the
        # cached plan keeps ``hashpartitioning(src)``, so no round
        # re-shuffles the edges (see the module docstring). The first
        # action over ``nodes`` materializes it.
        e = caches.persist(
            e.repartition(e.sparkSession.sparkContext.defaultParallelism, "src")
            .withColumn("deg", F.count(F.lit(1)).over(Window.partitionBy("src")))
        )
        if symmetric:
            nodes = caches.persist(e.select(F.col("src").alias("node")).distinct())
        else:
            nodes = caches.persist(
                e.select(F.col("src").alias("node"))
                .unionByName(e.select(F.col("dst").alias("node")))
                .distinct()
            )
        terms = rank_terms(nodes)
        if terms is None:
            node_type = e.schema["src"].dataType.simpleString()
            return e.sparkSession.createDataFrame([], f"node {node_type}, rank double")
        start, teleport = terms
        ranks = nodes.select("node", start.alias("rank"))
        ckpt = None
        for i in range(iters):
            contrib = (
                e.join(ranks.withColumnRenamed("node", "src"), "src")
                .groupBy("dst")
                .agg(F.sum(F.col("rank") / F.col("deg")).alias("__c"))
                .withColumnRenamed("dst", "node")
            )
            if symmetric:
                # every node of a symmetric graph has an in-edge, so the
                # contribution aggregate already covers the whole node
                # set — the |V| left join below would be a no-op
                # exchange+join per round (verified: identical ranks
                # with/without)
                ranks = contrib.select(
                    "node", (teleport + damping * F.col("__c")).alias("rank")
                )
            else:
                ranks = nodes.join(contrib, "node", "left").select(
                    "node",
                    (
                        teleport + damping * F.coalesce(F.col("__c"), F.lit(0.0))
                    ).alias("rank"),
                )
            # truncate only every 4th round: a per-round barrier forces
            # a materialization each iteration (measured 5× slower at
            # 1.2M edges × 3 rounds), while UNBOUNDED lineage makes
            # planning superlinear past a handful of rounds — periodic
            # truncation is the middle that scales to both axes.
            # (Skipping the mid-loop checkpoint for short runs was
            # measured and REJECTED: 5-iteration PageRank ran 4.66 s →
            # 5.43 s without it — re-analyzing the deeper plan at every
            # AQE stage costs more than the one barrier saves.)
            if (i + 1) % 4 == 0 and i + 1 < iters:
                ranks = caches.truncate(ranks)
                caches.drop(ckpt)  # a long run keeps one checkpoint
                ckpt = ranks
        return caches.keep(caches.truncate(ranks))


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    edges_distinct: bool = False,
    symmetric: bool = False,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list (make edges
    symmetric for undirected graphs — that also removes dangling-node
    mass loss, since every node then has out-degree ≥ 1).

    ``edges_distinct=True`` skips the defensive dedup shuffle when the
    caller guarantees no duplicate edges; ``symmetric=True`` derives
    the node set from sources alone (every node of a symmetric graph
    is a source) — together they remove two |E|-sized shuffles from
    the setup on graphs built from an already-distinct pair list.

    Returns (node, rank) after ``iters`` rounds from a uniform start;
    an empty edge list gives an empty frame.
    Simplified update (no dangling redistribution):
    ``r'(v) = (1−d)/N + d·Σ_{u→v} r(u)/outdeg(u)``.
    """

    def uniform(nodes: DataFrame):
        # |V| is one bounded scalar action over the persisted node set
        # — riding it as a literal keeps a 1-row broadcast join out of
        # every round's plan (planning cost dominates small-graph rounds)
        n = nodes.count()
        if n == 0:
            return None
        return F.lit(1.0 / n), F.lit((1.0 - damping) / n)

    return _power_iteration(
        edges, iters, damping, src, dst, edges_distinct, symmetric, uniform
    )


def connected_components(
    edges: DataFrame,
    max_iters: int = 20,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Min-label propagation (hashmin) with pointer jumping: every
    node's label converges to the smallest node id in its component.
    Returns (node, component). The engine's one components loop;
    ``dedup.dedup_clusters`` renames its columns around it.

    Each round takes ``c``, the min label over the node's neighbors and
    itself, then jumps: ``component = least(c, prev[c])``, where
    ``prev`` is the previous round's labels. A path of n nodes closes
    in ceil(log2 n) + 1 rounds instead of n. The jump joins the
    persisted previous round, so it adds one query stage to a round
    that is materialized once either way. Measured trade: on a
    diameter-1 graph (the sf0.1 ``op_connected_components``) that stage
    saves nothing and costs one job, 16 instead of 15; a 6-node path
    runs 24 jobs instead of 31, and a 61-node path 7 rounds and 43 jobs
    (an 11-node path took 56 jobs without the jump, and with no
    truncation the plan grew until a 21-node path ran a 7.8 GB driver
    heap out of memory).

    Raises if ``max_iters`` rounds do not reach a fixpoint: silent
    partial labels would be wrong answers (a dedup caller would keep
    extra duplicates)."""
    with _CacheOwner() as caches:
        # Evaluate the edge frame EXACTLY ONCE: Spark does not reuse
        # repeated unpersisted subtrees, and a window-, join- or
        # LSH-derived edge list referenced four times re-ran that many
        # times. Both directions come from one explode over a single
        # pass, and the checkpoint cuts the input's plan (a dedup pair
        # frame arrives with the whole LSH pipeline's) out of every round.
        # SELF-LOOP FOLD: the explode also emits each endpoint's
        # (node, node) row (the distinct collapses repeats), so this one
        # checkpoint is the whole per-round edge frame. Through its
        # self-loop the min aggregate sees the node's OWN label — min
        # over neighbors ∪ self IS least(own, neighbor-min) — so round 1
        # needs no join at all, and the old label for the convergence
        # probe is min(label WHERE b = a), one extra aggregate buffer.
        sym = caches.truncate(
            _pair_rows(edges, (src, dst), (dst, src), (src, src), (dst, dst)).distinct()
        )
        mat = None  # None ⇒ identity labels (round 1: the jump is a no-op)
        for i in range(max_iters):
            if mat is None:
                label, rows = F.col("b"), sym
            else:
                label = F.col("__lb")
                rows = sym.join(
                    mat.select(F.col("node").alias("b"), F.col("component").alias("__lb")),
                    "b",
                )
            hop = rows.groupBy(F.col("a").alias("node")).agg(
                F.min(label).alias("component"),
                F.min(F.when(F.col("b") == F.col("a"), label)).alias("__prev"),
            )
            if mat is not None:
                # pointer jump through the persisted previous round: every
                # label is a node id of the same component, so the join
                # is safely INNER and stays inside the component
                hop = hop.join(
                    mat.select(F.col("node").alias("component"), F.col("component").alias("__j")),
                    "component",
                ).select("node", F.least("component", "__j").alias("component"), "__prev")
            # every 4th round truncates the lineage (as kcore does): a
            # round reads the previous one twice, so each persisted
            # round doubles the analyzed plan (2, 6, 14 joins after 1,
            # 2, 3 rounds past a truncation)
            stale = mat
            mat = caches.truncate(hop) if (i + 1) % 4 == 0 else caches.persist(hop)
            # the OLD label rides along as __prev, so convergence is a
            # filter over the just-materialized round
            changed = mat.where(F.col("component") != F.col("__prev")).limit(1).count()
            caches.drop(stale)
            if changed == 0:
                # the RETURNED projection owns the final round's cache
                final = caches.keep(mat)
                return _TruncatedFrame(final.select("node", "component"), final)
    raise RuntimeError(
        f"connected_components did not reach a fixpoint in {max_iters} "
        "rounds; partial labels would split components — raise max_iters"
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    edges_canonical: bool = False,
) -> DataFrame:
    """Per-node triangle counts over an undirected graph — the local
    clustering signal (community density, spam-ring detection).

    Compact-forward algorithm: canonicalize each undirected edge to
    (lo, hi) once, so every triangle {a<b<c} is enumerated exactly once
    as wedge (a-b, b-c) closed by edge (a-c) — two equi joins, no
    direction blow-up, no CartesianProduct. Cost is Σ wedges per
    mid-node; at scale, cap or salt super-node hubs the same way the
    dedup family caps hot LSH buckets.

    Returns (node, n_triangles) for every node in at least one
    triangle. ``edges_canonical=True`` skips the canonicalize +
    distinct shuffle when the caller already guarantees lo<hi,
    loop-free, deduplicated edges (``clustering_coefficient`` builds
    exactly that frame — re-dedup would be a wasted |E| shuffle).
    """
    if edges_canonical:
        e = edges.select(F.col(src).alias("lo"), F.col(dst).alias("hi"))
    else:
        e = _undirected(edges, src, dst)
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])  # a < b < c by construction
    per_corner = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return per_corner.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def link_predict_common_neighbors(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
    k: int = 100,
) -> DataFrame:
    """Link prediction by neighborhood overlap: for node pairs NOT
    already connected, count common neighbors and score with Jaccard
    |Γ(a)∩Γ(b)| / |Γ(a)∪Γ(b)| — the classic similarity baseline for
    recommending missing edges (entity linkage, knowledge-graph
    completion).

    Inverted-index shape (same family as the n-gram Jaccard dedup):
    symmetrize once, self-join adjacency on the shared NEIGHBOR — the
    join key is the mid-node, so cost is Σ deg(n)² over mid-nodes, not
    |V|². ``max_degree`` drops super-hub mid-nodes from the index (a
    hub is a weak similarity signal anyway — same reasoning as the
    document-frequency cap in dedup.py); degrees for the Jaccard
    denominator are computed BEFORE the cap so scores stay exact.
    Existing edges are removed with a broadcast-free anti-join on the
    canonical (lo, hi) form. Top-k by score desc, then (a, b) asc —
    deterministic.

    Returns (a, b, n_common, score) with a < b.
    """
    und = _undirected(edges, src, dst)
    adj = und.select(F.col("lo").alias("node"), F.col("hi").alias("nbr")).unionAll(
        und.select(F.col("hi").alias("node"), F.col("lo").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count("*").alias("deg"))
    index = adj
    if max_degree is not None:
        hubs = deg.where(F.col("deg") > max_degree).select(
            F.col("node").alias("nbr")
        )
        index = adj.join(F.broadcast(hubs), "nbr", "left_anti")
    left = index.select(F.col("node").alias("a"), "nbr")
    right = index.select(F.col("node").alias("b"), "nbr")
    pairs = (
        left.join(right, "nbr")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    non_edges = pairs.join(
        und.select(F.col("lo").alias("a"), F.col("hi").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    return (
        non_edges.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")),
                6,
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), "a", "b")
        .limit(k)
    )


def _relax(
    edges: DataFrame, source: int, rounds: int, src: str, dst: str, weight, dist_type: str
) -> DataFrame:
    """The one shortest-path body: at most ``rounds`` rounds of
    Bellman-Ford relaxation from ``source`` over the undirected graph,
    each edge costing ``weight`` (a column over ``edges``). Returns
    ``(node, dist)`` for every node a path of at most ``rounds`` edges
    reaches, with ``dist`` the least cost of such a path; ``source``
    is always present with 0.

    Each round aggregates ``best ∪ (frontier ⋈ adj)`` by node as
    ``min(dist)``, carrying the old value as ``min(__prev)``, and
    materializes it once (persisted; truncated every 4th round, as in
    ``connected_components``). Counting its rows that are new or whose
    ``dist`` fell (from NULL to a value counts; a NULL-weight path's
    NULL that stays NULL does not) is that materialization AND the
    convergence probe;
    those rows are the next frontier, and a count of 0 ends the loop
    early. Relaxing only the frontier is exact: a node whose distance
    did not fall in round k−1 had its edges relaxed with that same
    distance in an earlier round, so k rounds equal k rounds of full
    Bellman-Ford.

    Every round is materialized: each one reads the previous round
    twice, and AQE does not reuse a repeated unpersisted subtree across
    its query stages, so a lazy loop recomputes early rounds
    exponentially (a depth-3 BFS ran 54 jobs in 10.4 s instead of 26 in
    3.9 s)."""
    with _CacheOwner() as caches:
        # one explode of both directions and one distinct: parallel
        # edges of equal cost collapse, cheaper ones stay for min to pick
        adj = caches.persist(
            _pair_rows(
                edges.where(F.col(src) != F.col(dst)).select(src, dst, weight.alias("w")),
                (src, dst),
                (dst, src),
                carry=("w",),
            ).distinct()
        )
        best = edges.sparkSession.createDataFrame([(source,)], "node bigint").select(
            "node", F.lit(0).cast(dist_type).alias("dist")
        )
        frontier = best
        for i in range(rounds):
            reached = frontier.join(adj.withColumnRenamed("a", "node"), "node").select(
                F.col("b").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
                F.lit(None).cast(dist_type).alias("__prev"),
                F.lit(None).cast("boolean").alias("__seen"),
            )
            hop = (
                best.select(
                    "node", "dist", F.col("dist").alias("__prev"), F.lit(True).alias("__seen")
                )
                .unionByName(reached)
                .groupBy("node")
                .agg(
                    F.min("dist").alias("dist"),
                    F.min("__prev").alias("__prev"),
                    F.max("__seen").alias("__seen"),
                )
            )
            stale = best
            best = caches.truncate(hop) if (i + 1) % 4 == 0 else caches.persist(hop)
            # min never raises a dist, so a changed one fell (NULL → a
            # value included); a NULL that stays NULL is no change
            frontier = best.where(
                F.col("__seen").isNull() | ~F.col("dist").eqNullSafe(F.col("__prev"))
            )
            changed = frontier.count()
            caches.drop(stale)
            if changed == 0:
                break
        # the RETURNED projection owns the final round's cache
        best = caches.keep(best)
        return _TruncatedFrame(best.select("node", "dist"), best)


def bfs_distances(
    edges: DataFrame,
    source: int,
    max_depth: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Unweighted shortest-path distances from ``source`` over the
    undirected graph, breadth-first to ``max_depth`` hops — the
    bounded-iteration answer to a recursive CTE (which Spark lacks;
    the oracle twin IS one). :func:`_relax` with unit weights, so each
    round joins only the wavefront to the adjacency, and the loop ends
    when the wavefront empties.

    Returns (node, dist) including (source, 0); ``dist`` is an int."""
    return _relax(edges, source, max_depth, src, dst, F.lit(1), "int")


def sssp_bounded(
    edges: DataFrame,
    source: int,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Single-source shortest path costs over the undirected weighted
    graph, restricted to paths of at most ``rounds`` edges —
    Bellman-Ford relaxation rounds, the bounded-iteration form of the
    weighted recursive CTE: :func:`_relax` with ``weight_col`` cast to
    double. Parallel edges are kept (min picks the lightest); prefer
    integer-valued weights when hash-attesting so path sums are exact.

    Returns (node, dist) for nodes reachable within ``rounds`` hops."""
    return _relax(edges, source, rounds, src, dst, F.col(weight_col).cast("double"), "double")


def kcore(
    edges: DataFrame,
    k: int,
    max_iters: int = 30,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition (membership): iteratively peel nodes with
    degree < k until a fixpoint; survivors form the k-core — the dense
    subgraph used for community seeds and spam/bot cluster mining.

    Returns (node, deg) for nodes in the k-core, with their degree
    INSIDE the core, in no particular order. Each round persists the
    surviving edges' degree count and stops when no node has deg < k
    — the "edge count unchanged" test, since such a node has an edge
    that peeling it removes — returning that degree frame. Otherwise
    two semi-joins keep the edges whose ends both survive, so cost
    tracks a shrinking edge set; every 4th peel round truncates its
    lineage (as PageRank does). Deterministic: the peel order doesn't
    affect the fixpoint (k-core is unique). Raises on non-convergence
    like ``connected_components`` — a silent partial peel would answer
    with a supergraph of the core.

    Self-loops are dropped (a self-loop would let an isolated node
    keep itself alive forever); parallel edges collapse."""
    with _CacheOwner() as caches:
        cur = caches.persist(
            _pair_rows(edges.where(F.col(src) != F.col(dst)), (src, dst), (dst, src)).distinct()
        )
        stale: list[DataFrame] = []
        for i in range(max_iters):
            by_node = cur.groupBy(F.col("a").alias("node"))
            deg = caches.persist(by_node.agg(F.count(F.lit(1)).alias("deg")))
            done = deg.where(F.col("deg") < k).limit(1).count() == 0
            # the probe materialized this round's edges and degrees; the
            # previous round's caches, which they were computed from,
            # are dead weight only from here
            for df in stale:
                caches.drop(df)
            if done:  # the owner drops the fixpoint edge set deg was read from
                return caches.keep(deg)
            alive = deg.where(F.col("deg") >= k)
            nxt = cur.join(
                alive.select(F.col("node").alias("a")), "a", "left_semi"
            ).join(alive.select(F.col("node").alias("b")), "b", "left_semi")
            stale = [cur, deg]
            cur = caches.truncate(nxt) if (i + 1) % 4 == 0 else caches.persist(nxt)
    raise RuntimeError(
        f"kcore did not reach a fixpoint in {max_iters} rounds"
    )


def personalized_pagerank(
    edges: DataFrame,
    sources: list[int],
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    edges_distinct: bool = False,
    symmetric: bool = False,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to the SOURCE SET
    instead of spreading uniformly, so ranks measure proximity to the
    sources — the related-items / trust-propagation variant of
    ``pagerank`` ("what's near THESE nodes", not "what's central").

    ``sources`` ride the plan as literals (the IVF-centroid pattern);
    rounds run the same body as ``pagerank``.
    Nodes unreachable from the sources legitimately converge to 0."""
    if not sources:
        raise ValueError("personalized_pagerank needs a non-empty source set")
    # dedupe BEFORE sizing the teleport weight: isin() dedups
    # implicitly, so [5, 5] would otherwise give node 5 mass 1/2 and
    # silently lose the rest
    srcs = sorted({int(x) for x in sources})

    def source_set(nodes: DataFrame):
        # a source absent from the graph would likewise leak teleport
        # mass (all-zero ranks with no signal) — fail loudly instead;
        # one small count over the already-persisted node set
        n_found = nodes.where(F.col("node").isin(srcs)).count()
        if n_found != len(srcs):
            raise ValueError(
                f"{len(srcs) - n_found} source id(s) absent from the edge list"
            )
        share = F.when(
            F.col("node").isin(srcs), F.lit(1.0 / len(srcs))
        ).otherwise(F.lit(0.0))
        return share, (1.0 - damping) * share

    return _power_iteration(
        edges, iters, damping, src, dst, edges_distinct, symmetric, source_set
    )


def degree_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Undirected degree-distribution histogram: ``(deg, n_nodes)``
    rows, one per distinct degree — the first diagnostic run on any
    new graph (power-law tail ⇒ hub-salting / cap decisions for the
    join-based ops above; see ``op_key_skew`` for the relational
    twin).

    Shape: canonical-pair distinct (``least/greatest``) collapses
    parallel and reverse edges, one symmetric union derives neighbor
    lists, then two hash aggregates (node→deg, deg→n_nodes) — both
    map-side combinable, no windows, no joins. At 100 TB the edge
    distinct is the only real shuffle; everything after it works on
    the much smaller node set."""
    und = _undirected(edges, src, dst)
    sym = und.select(F.col("lo").alias("node")).unionByName(
        und.select(F.col("hi").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    return (
        deg.groupBy("deg")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("deg")
    )


def reciprocity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Directed-graph reciprocity: the fraction of distinct non-loop
    edges (a→b) whose reverse (b→a) also exists — a one-row summary
    (bot/broadcast graphs sit near 0, social graphs 0.3-0.7).

    The reverse-existence test is a self semi-join on the distinct
    edge set (equi keys, shuffle-partitioned both sides the same way);
    the two counts are map-side-combined 1-row aggregates crossed at
    the end — nothing here materializes on the driver."""
    e = (
        edges.where(F.col(src) != F.col(dst))
        .select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
    )
    rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    n_all = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_rec = e.join(rev, ["s", "d"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_reciprocal")
    )
    return n_all.crossJoin(n_rec).select(
        "n_edges",
        "n_reciprocal",
        F.round(
            F.col("n_reciprocal").cast("double")
            / F.col("n_edges").cast("double"),
            6,
        ).alias("reciprocity"),
    )


def assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity: Pearson correlation between the degrees
    at the two ends of each undirected edge (one row: n_edges, r).
    Positive ⇒ hubs attach to hubs (social nets); negative ⇒ hub-leaf
    structure (the shape that wants hub-salting in the join ops).

    Shape: canonical-pair distinct → degree table (hash agg) → degree
    joined to both endpoints (two equi joins against the |V|-sized
    deg frame) → one corr aggregate over both edge orientations.
    corr is spelled covar/(σ·σ) under try_divide so a degree-regular
    graph (zero variance) yields NULL, matching ANSI engines instead
    of raising."""
    und = _undirected(edges, src, dst)
    sym = und.select(F.col("lo").alias("a"), F.col("hi").alias("b")).unionByName(
        und.select(F.col("hi").alias("a"), F.col("lo").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    paired = (
        sym.join(deg, "a")
        .withColumnRenamed("deg", "dx")
        .join(deg.select(F.col("a").alias("b"), F.col("deg").alias("dy")), "b")
        .select(F.col("dx").cast("double"), F.col("dy").cast("double"))
    )
    from ..functions.numeric import safe_corr, snap_zero

    r = safe_corr(F.col("dx"), F.col("dy"))
    return paired.agg(
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
        snap_zero(r).alias("assortativity"),
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per node: triangles(v) /
    C(deg(v), 2) — what fraction of a node's neighbor pairs are
    themselves connected (≈1 inside cliques/communities, ≈0 on trees
    and star spam). Composes :func:`triangle_count` with the degree
    table; nodes of degree < 2 get coefficient 0.

    Shape: the triangle enumeration dominates (see triangle_count);
    the degree join adds one |V|-sized frame. Output: (node, deg,
    n_triangles, coeff) for every node of the graph."""
    und = _undirected(edges, src, dst)
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionByName(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = triangle_count(und, "lo", "hi", edges_canonical=True)
    pairs = (F.col("deg") * (F.col("deg") - 1) / 2.0).cast("double")
    coeff = F.when(
        F.col("deg") >= 2,
        F.round(F.coalesce(F.col("n_triangles"), F.lit(0)) / pairs, 6),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
            coeff.alias("coeff"),
        )
    )
