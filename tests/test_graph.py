"""Tests for iterative graph operators (operators/graph.py)."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from airflow_spark.operators import dedup, graph


def _edges(spark, pairs):
    return spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in pairs], schema="src bigint, dst bigint"
    )


def test_pagerank_star_graph(spark):
    # undirected star 0-1, 0-2, 0-3: hub must outrank leaves; ranks sum ~1
    pairs = [(0, 1), (1, 0), (0, 2), (2, 0), (0, 3), (3, 0)]
    ranks = {
        r["node"]: r["rank"]
        for r in graph.pagerank(_edges(spark, pairs), iters=10).collect()
    }
    assert ranks[0] > ranks[1] == pytest.approx(ranks[2])
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-6)


def test_pagerank_matches_numpy_power_iteration(spark):
    pairs = [(0, 1), (1, 2), (2, 0), (0, 2), (2, 1), (1, 0)]  # symmetric triangle-ish
    got = {
        r["node"]: r["rank"]
        for r in graph.pagerank(_edges(spark, pairs), iters=4).collect()
    }
    # replicate: uniform start, r' = 0.15/3 + 0.85 * M r
    nodes = [0, 1, 2]
    out = {0: 2, 1: 2, 2: 2}
    r = {v: 1 / 3 for v in nodes}
    for _ in range(4):
        contrib = {v: 0.0 for v in nodes}
        for a, b in pairs:
            contrib[b] += r[a] / out[a]
        r = {v: 0.15 / 3 + 0.85 * contrib[v] for v in nodes}
    for v in nodes:
        assert got[v] == pytest.approx(r[v], abs=1e-12)


def test_connected_components_path_and_isolated_pair(spark):
    # path 1-2-3-4 (diameter 3) + separate pair 10-11
    pairs = [(1, 2), (2, 3), (3, 4), (10, 11)]
    labels = {
        r["node"]: r["component"]
        for r in graph.connected_components(_edges(spark, pairs)).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_raises_when_not_converged(spark):
    pairs = [(i, i + 1) for i in range(1, 6)]  # path of diameter 5
    with pytest.raises(RuntimeError):
        graph.connected_components(_edges(spark, pairs), max_iters=2)


def test_connected_components_empty_edges(spark):
    assert graph.connected_components(_edges(spark, [])).count() == 0


def test_pagerank_empty_edges(spark):
    # no nodes: an empty (node, rank) frame, not a 1/0 on the uniform
    # start, and no internal cache left behind
    before = _persisted_ids(spark)
    out = graph.pagerank(_edges(spark, []))
    assert out.schema.simpleString() == "struct<node:bigint,rank:double>"
    assert out.count() == 0
    out.unpersist()
    assert _persisted_ids(spark) - before == set()
    # no node can be a source: still a ValueError, still no cache left
    with pytest.raises(ValueError, match="absent"):
        graph.personalized_pagerank(_edges(spark, []), sources=[0])
    assert _persisted_ids(spark) - before == set()


def test_triangle_count_known_graphs(spark):
    from airflow_spark.operators.graph import triangle_count

    # K4: every node is in C(3,2)=3 triangles
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_count(spark.createDataFrame(k4, ["src", "dst"])).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    # triangle + pendant edge: pendant node has none
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"]
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_count(tri).collect()}
    assert got == {1: 1, 2: 1, 3: 1}

    # direction + duplicates + self-loops must not change the result
    messy = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 1), (1, 2), (2, 2), (3, 4)], ["src", "dst"]
    )
    got_m = {r["node"]: r["n_triangles"] for r in triangle_count(messy).collect()}
    assert got_m == {1: 1, 2: 1, 3: 1}

    # path graph: no triangles at all
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    assert triangle_count(path).count() == 0


def test_link_predict_path_and_square(spark):
    from airflow_spark.operators.graph import link_predict_common_neighbors

    # path a-b-c: only candidate pair is (a, c) via common neighbor b;
    # both endpoints have degree 1 -> Jaccard 1/(1+1-1) = 1.0
    path = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    got = link_predict_common_neighbors(path).collect()
    assert [(r["a"], r["b"], r["n_common"], r["score"]) for r in got] == [
        (1, 3, 1, 1.0)
    ]

    # square 1-2-3-4-1: diagonals (1,3) and (2,4) each share two
    # neighbors, Jaccard 2/(2+2-2) = 1.0; adjacent pairs are edges and
    # must be excluded
    sq = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 1)], ["src", "dst"])
    got = {
        (r["a"], r["b"]): (r["n_common"], r["score"])
        for r in link_predict_common_neighbors(sq).collect()
    }
    assert got == {(1, 3): (2, 1.0), (2, 4): (2, 1.0)}


def test_link_predict_max_degree_drops_hub_mid_nodes(spark):
    from airflow_spark.operators.graph import link_predict_common_neighbors

    # star center 0 with leaves 1..5 plus edge 1-2: every leaf pair is
    # a candidate through the hub. Capping max_degree=3 drops node 0
    # from the inverted index, so only pairs with a non-hub common
    # neighbor survive — here none (1-2 is an edge, and no other pair
    # shares a low-degree neighbor).
    rows = [(0, i) for i in range(1, 6)] + [(1, 2)]
    edges = spark.createDataFrame(rows, ["src", "dst"])
    full = link_predict_common_neighbors(edges)
    assert full.count() == 9  # C(5,2) leaf pairs minus the 1-2 edge
    capped = link_predict_common_neighbors(edges, max_degree=3)
    assert capped.count() == 0

    # degrees for the Jaccard denominator are computed before the cap:
    # uncapped scores must match a hand computation for pair (3, 4)
    r34 = {
        (r["a"], r["b"]): r["score"] for r in full.collect()
    }[(3, 4)]
    assert r34 == 1.0  # deg 1 each, one common neighbor


def test_bfs_distances_levels_and_cutoff(spark):
    from airflow_spark.operators.graph import bfs_distances

    # path 0-1-2-3-4 with a shortcut 0-3: BFS order matters
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3)], ["src", "dst"]
    )
    got = {r["node"]: r["dist"] for r in bfs_distances(e, 0, 6).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 2}

    # depth cutoff stops expansion; unreachable components excluded
    e2 = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (8, 9)], ["src", "dst"])
    got2 = {r["node"]: r["dist"] for r in bfs_distances(e2, 0, 2).collect()}
    assert got2 == {0: 0, 1: 1, 2: 2}


def test_sssp_bounded_prefers_cheaper_multi_hop(spark):
    from airflow_spark.operators.graph import sssp_bounded

    # direct 0-2 costs 10; the two-hop route via 1 costs 6
    e = spark.createDataFrame(
        [(0, 1, 5.0), (1, 2, 1.0), (0, 2, 10.0)], ["src", "dst", "w"]
    )
    got = {r["node"]: r["dist"] for r in sssp_bounded(e, 0, rounds=3).collect()}
    assert got == {0: 0.0, 1: 5.0, 2: 6.0}

    # hop bound: with 1 round the via-1 route is not yet found
    got1 = {r["node"]: r["dist"] for r in sssp_bounded(e, 0, rounds=1).collect()}
    assert got1 == {0: 0.0, 1: 5.0, 2: 10.0}

    # parallel edges: the lighter one wins
    e2 = spark.createDataFrame([(0, 1, 5.0), (0, 1, 2.0)], ["src", "dst", "w"])
    got2 = {r["node"]: r["dist"] for r in sssp_bounded(e2, 0, rounds=2).collect()}
    assert got2 == {0: 0.0, 1: 2.0}


# ---------------------------------------------------------------------------
# kcore
# ---------------------------------------------------------------------------


def test_kcore_peels_pendant_chain(spark):
    from airflow_spark.operators.graph import kcore

    # K4 with a pendant path hanging off node 0: 2-core = the K4 only
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = spark.createDataFrame(
        k4 + [(0, 10), (10, 11)], "src LONG, dst LONG"
    )
    out = {r.node: r.deg for r in kcore(edges, k=2).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert all(d == 3 for d in out.values())


def test_kcore_cascading_peel(spark):
    from airflow_spark.operators.graph import kcore

    # triangle + tail: removing the tail drops node 2's degree, but
    # the triangle still stands at k=2; at k=3 everything dies
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src LONG, dst LONG"
    )
    assert set(
        r.node for r in kcore(edges, k=2).collect()
    ) == {0, 1, 2}
    assert kcore(edges, k=3).count() == 0


def test_kcore_ignores_self_loops_and_duplicates(spark):
    from airflow_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 0), (1, 1), (0, 1)], "src LONG, dst LONG"
    )
    out = {r.node: r.deg for r in kcore(edges, k=1).collect()}
    assert out == {0: 1, 1: 1}
    assert kcore(edges, k=2).count() == 0


def _plan_joins(df) -> int:
    """Join nodes of ``df``'s analyzed plan: the lineage Catalyst analyzes
    again on every later action (the optimized plan swaps a persisted
    frame for its cache and shows no joins either way). A subtree shared
    by several parents is counted once."""
    ident = df.sparkSession.sparkContext._jvm.System.identityHashCode
    seen, stack, joins = set(), [df._jdf.queryExecution().analyzed()], 0
    while stack:
        node = stack.pop()
        key = ident(node)
        if key in seen:
            continue
        seen.add(key)
        joins += node.nodeName() == "Join"
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return joins


def test_kcore_truncates_peel_lineage(spark):
    # a pendant chain of m nodes off a K4 takes m peel rounds at k=2.
    # Every 4th peel round truncates the edge set, so the returned
    # frame's plan holds only the rounds since the last truncation: 5
    # and 13 rounds both end one round past one, and 12 ends on one.
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]

    def run(m):
        chain = [(0, 10)] + [(10 + j, 11 + j) for j in range(m - 1)]
        before = _persisted_ids(spark)
        out = graph.kcore(_edges(spark, k4 + chain), k=2)
        got = {r.node: r.deg for r in out.collect()}
        joins = _plan_joins(out)
        out.unpersist()
        assert _persisted_ids(spark) - before == set()
        return got, joins

    (got5, j5), (got12, j12), (got13, j13) = run(5), run(12), run(13)
    assert got5 == got12 == got13 == {0: 3, 1: 3, 2: 3, 3: 3}
    assert j5 == j13 > j12


def test_connected_components_long_path_truncates_rounds(spark):
    # pointer jumping closes an n-node path in ceil(log2 n) + 1 rounds,
    # and every 4th round truncates the lineage, so the returned frame's
    # plan holds only the rounds since the last truncation: a 61-node
    # path (7 rounds) and a 600-node path (11 rounds) both end three
    # rounds past one
    def run(n, max_iters):
        before = _persisted_ids(spark)
        out = graph.connected_components(
            _edges(spark, [(i, i + 1) for i in range(1, n)]), max_iters=max_iters
        )
        got = {(r.node, r.component) for r in out.collect()}
        joins = _plan_joins(out)
        out.unpersist()
        assert _persisted_ids(spark) - before == set()
        return got, joins

    got61, j61 = run(61, 10)
    assert got61 == {(i, 1) for i in range(1, 62)}
    got600, j600 = run(600, 12)
    assert got600 == {(i, 1) for i in range(1, 601)}
    assert j61 == j600 > 0


def test_personalized_pagerank_concentrates_near_sources(spark):
    from airflow_spark.operators.graph import personalized_pagerank

    # path graph 0-1-2-3-4-5, symmetric; source = {0}
    path = [(i, i + 1) for i in range(5)]
    edges = spark.createDataFrame(
        path + [(b, a) for a, b in path], "src LONG, dst LONG"
    )
    out = {r.node: r.rank for r in
           personalized_pagerank(edges, [0], iters=8).collect()}
    # rank decays monotonically with distance from the source
    assert out[0] > out[1] > out[2] > out[3]
    # unreachable component gets zero
    edges2 = spark.createDataFrame(
        [(0, 1), (1, 0), (7, 8), (8, 7)], "src LONG, dst LONG"
    )
    out2 = {r.node: r.rank for r in
            personalized_pagerank(edges2, [0], iters=6).collect()}
    assert out2[7] == 0.0 and out2[8] == 0.0
    assert out2[0] > 0 and out2[1] > 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        personalized_pagerank(edges, [], iters=2)


def test_personalized_pagerank_dedupes_sources_and_rejects_missing(spark):
    from airflow_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long"
    )
    # duplicate sources must weigh like the deduped set, not split mass
    a = {r["node"]: r["rank"]
         for r in personalized_pagerank(edges, [0, 0], iters=4).collect()}
    b = {r["node"]: r["rank"]
         for r in personalized_pagerank(edges, [0], iters=4).collect()}
    assert a == b
    # a source absent from the graph is an error, not all-zero ranks
    with pytest.raises(ValueError, match="absent"):
        personalized_pagerank(edges, [999], iters=2)


def test_degree_stats_histogram_collapses_duplicates(spark):
    # path 0-1-2-3 given with reverse + parallel edges and a self-loop:
    # degrees are 1,2,2,1 -> histogram {1: 2 nodes, 2: 2 nodes}
    pairs = [(0, 1), (1, 0), (1, 2), (2, 3), (3, 2), (2, 3), (2, 2)]
    hist = {
        r["deg"]: r["n_nodes"]
        for r in graph.degree_stats(_edges(spark, pairs)).collect()
    }
    assert hist == {1: 2, 2: 2}


def test_reciprocity_half_mutual(spark):
    # 0->1 mutual, 0->2 one-way: 4 distinct non-loop edges... actually
    # edges {0->1, 1->0, 0->2} -> 2 of 3 have a reverse
    pairs = [(0, 1), (1, 0), (0, 2), (0, 2), (1, 1)]
    row = graph.reciprocity(_edges(spark, pairs)).collect()[0]
    assert row["n_edges"] == 3
    assert row["n_reciprocal"] == 2
    assert row["reciprocity"] == pytest.approx(2 / 3, abs=1e-6)


def test_reciprocity_no_mutual_edges(spark):
    row = graph.reciprocity(_edges(spark, [(0, 1), (1, 2)])).collect()[0]
    assert row["n_reciprocal"] == 0
    assert row["reciprocity"] == 0.0


def test_assortativity_star_is_negative(spark):
    # star: hub degree 4, leaves degree 1 -> strongly disassortative
    pairs = [(0, i) for i in range(1, 5)]
    row = graph.assortativity(_edges(spark, pairs)).collect()[0]
    assert row["n_edges"] == 4
    assert row["assortativity"] == -1.0


def test_assortativity_regular_graph_is_null(spark):
    # 4-cycle: every degree 2 -> zero variance -> undefined (NULL)
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0)]
    row = graph.assortativity(_edges(spark, pairs)).collect()[0]
    assert row["assortativity"] is None


def test_clustering_coefficient_triangle_plus_pendant(spark):
    # triangle 0-1-2 with pendant 3 on node 0
    pairs = [(0, 1), (1, 2), (0, 2), (0, 3)]
    got = {
        r["node"]: r for r in
        graph.clustering_coefficient(_edges(spark, pairs)).collect()
    }
    # nodes 1,2: deg 2, 1 triangle -> coeff 1.0
    assert got[1]["coeff"] == 1.0 and got[2]["coeff"] == 1.0
    # node 0: deg 3, 1 triangle of 3 possible pairs -> 1/3
    assert got[0]["coeff"] == round(1 / 3, 6)
    # pendant: deg 1 -> 0.0 by convention, still present
    assert got[3]["coeff"] == 0.0 and got[3]["n_triangles"] == 0


# ---------------------------------------------------------------------------
# Cache hygiene: the uniform contract from the module docstring — after an
# iterative op returns (its result is already materialized), the ONLY
# persisted RDDs beyond the pre-call baseline back the returned frame, and
# result.unpersist() returns the ledger to baseline exactly.
# ---------------------------------------------------------------------------


def _persisted_ids(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


@pytest.mark.parametrize(
    "opname",
    [
        "pagerank",
        "personalized_pagerank",
        "connected_components",
        "bfs_distances",
        "sssp_bounded",
        "kcore",
        "dedup_clusters",
    ],
)
def test_iterative_ops_leave_only_the_returned_cache(spark, opname):
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (4, 5)]
    e = _edges(spark, pairs)
    ew = e.withColumn("w", (e.src + e.dst + 1).cast("double"))
    calls = {
        "pagerank": lambda: graph.pagerank(e, iters=6),
        "personalized_pagerank": lambda: graph.personalized_pagerank(
            e, sources=[0], iters=6
        ),
        "connected_components": lambda: graph.connected_components(e),
        "bfs_distances": lambda: graph.bfs_distances(e, source=0),
        "sssp_bounded": lambda: graph.sssp_bounded(ew, source=0, rounds=3),
        "kcore": lambda: graph.kcore(e, k=2),
        "dedup_clusters": lambda: dedup.dedup_clusters(
            e.select(e.src.alias("id_a"), e.dst.alias("id_b"))
        ),
    }
    before = _persisted_ids(spark)
    out = calls[opname]()
    out.collect()
    during = _persisted_ids(spark) - before
    # internal caches (adjacency, invariants, per-round frames) must be
    # gone; exactly the returned frame's cache may remain
    assert len(during) <= 1, (
        f"{opname} left {len(during)} extra persisted RDDs: {during}"
    )
    out.unpersist()
    assert _persisted_ids(spark) - before == set(), (
        f"{opname}: ledger did not return to baseline after unpersist"
    )


def test_iterative_ops_error_paths_leave_no_cache(spark):
    before = _persisted_ids(spark)
    with pytest.raises(RuntimeError):
        graph.connected_components(
            _edges(spark, [(i, i + 1) for i in range(1, 6)]), max_iters=2
        )
    assert _persisted_ids(spark) - before == set()
    with pytest.raises(ValueError):
        graph.personalized_pagerank(
            _edges(spark, [(0, 1), (1, 0)]), sources=[99], iters=2
        )
    # the missing-source guard fires after `nodes` is persisted; the
    # raise path must still drop it
    assert _persisted_ids(spark) - before == set()


@pytest.mark.parametrize(
    "opname",
    [
        "pagerank",
        "connected_components",
        "bfs_distances",
        "sssp_bounded",
        "kcore",
        "dedup_clusters",
    ],
)
def test_cancelled_iterative_ops_leave_no_cache(spark, opname):
    # a task timeout cancels the op's job group mid-loop (the pipeline
    # watchdog): the op must raise and leave the ledger at baseline.
    # A 400-node path keeps every op looping well past its third job.
    chain = _edges(spark, [(i, i + 1) for i in range(400)])
    calls = {
        "pagerank": lambda: graph.pagerank(chain, iters=200),
        "connected_components": lambda: graph.connected_components(
            chain, max_iters=400
        ),
        "bfs_distances": lambda: graph.bfs_distances(chain, 0, max_depth=400),
        "sssp_bounded": lambda: graph.sssp_bounded(
            chain.withColumn("w", F.lit(1.0)), 0, rounds=400
        ),
        "kcore": lambda: graph.kcore(chain, k=2, max_iters=400),
        "dedup_clusters": lambda: dedup.dedup_clusters(
            chain.select(chain.src.alias("id_a"), chain.dst.alias("id_b")),
            max_iters=400,
        ),
    }
    sc = spark.sparkContext
    group = f"cancel-{opname}"
    raised: list[Exception] = []

    def run():
        sc.setJobGroup(group, opname, interruptOnCancel=True)
        try:
            calls[opname]()
        except Exception as e:
            raised.append(e)

    before = _persisted_ids(spark)
    worker = threading.Thread(target=run, daemon=True)
    worker.start()
    tracker = sc.statusTracker()
    while worker.is_alive() and len(tracker.getJobIdsForGroup(group)) < 3:
        worker.join(0.01)
    assert worker.is_alive(), f"{opname} finished before its third job"
    # cancel repeatedly, as the watchdog does: a job submitted after
    # one cancel would survive it
    while worker.is_alive():
        sc.cancelJobGroup(group)
        worker.join(0.2)
    assert raised and "cancel" in str(raised[0]).lower(), raised
    assert _persisted_ids(spark) - before == set(), (
        f"{opname}: cancellation left persisted RDDs behind"
    )


# ---------------------------------------------------------------------------
# Job-count contract: the Spark jobs an iterative op launches on a small
# fixture graph, pinned at the current plan. Setup and convergence work
# rides on a materialization the loop already performs; a change that
# adds a job per loop fails here, one that removes jobs lowers the pin.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "case, jobs",
    [
        ("pagerank_symmetric", 12),
        ("pagerank_directed", 18),
        ("personalized_pagerank", 18),
        ("connected_components_chain", 24),
        ("dedup_clusters_chain", 24),
        ("kcore_no_peel", 6),
        ("kcore_one_peel", 13),
        ("bfs_distances_chain", 33),
        ("sssp_bounded_chain", 18),
    ],
)
def test_iterative_op_job_count(spark, untagged_jobs, case, jobs):
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    sym = _edges(spark, [(0, 1), (1, 0), (0, 2), (2, 0), (0, 3), (3, 0), (1, 2), (2, 1)])
    directed = _edges(spark, [(0, 1), (1, 2), (2, 0), (2, 3), (3, 1)])
    chain = _edges(spark, [(i, i + 1) for i in range(5)])
    wchain = chain.withColumn("w", (chain.src + 1).cast("double"))
    no_peel, one_peel = _edges(spark, k4), _edges(spark, k4 + [(0, 10)])
    calls = {
        "pagerank_symmetric": lambda: graph.pagerank(
            sym, iters=3, edges_distinct=True, symmetric=True
        ),
        "pagerank_directed": lambda: graph.pagerank(directed, iters=3),
        "personalized_pagerank": lambda: graph.personalized_pagerank(
            directed, sources=[0], iters=3
        ),
        "connected_components_chain": lambda: graph.connected_components(chain),
        "dedup_clusters_chain": lambda: dedup.dedup_clusters(
            chain.select(chain.src.alias("id_a"), chain.dst.alias("id_b"))
        ),
        "kcore_no_peel": lambda: graph.kcore(no_peel, k=2),
        "kcore_one_peel": lambda: graph.kcore(one_peel, k=2),
        "bfs_distances_chain": lambda: graph.bfs_distances(chain, 0),
        "sssp_bounded_chain": lambda: graph.sssp_bounded(wchain, 0, rounds=3),
    }
    out, n = untagged_jobs(calls[case])
    out.unpersist()
    assert n == jobs, f"{case}: {n} jobs, pinned at {jobs}"


def test_sssp_bounded_job_count_exits_early(spark, untagged_jobs):
    # a 3-node path settles in round 3 (round 3 relaxes node 2 and
    # improves nothing), so a larger round bound adds no job. With a
    # NULL weight the nodes past it keep a NULL dist, which is no
    # change from round to round either
    cases = [
        ([(0, 1, 1.0), (1, 2, 1.0)], {(0, 0.0), (1, 1.0), (2, 2.0)}, 10),
        ([(0, 1, None), (1, 2, 1.0)], {(0, 0.0), (1, None), (2, None)}, 8),
    ]
    for edges, want, many in cases:
        e = spark.createDataFrame(edges, "src bigint, dst bigint, w double")

        def run(rounds):
            out, n = untagged_jobs(lambda: graph.sssp_bounded(e, 0, rounds=rounds))
            assert {(r.node, r.dist) for r in out.collect()} == want
            out.unpersist()
            return n

        assert run(many) <= run(3), edges


def test_bfs_distances_long_path_truncates_rounds(spark):
    # a 40-edge path needs 41 rounds at depth 42: the last one finds no
    # improvement. Every 4th round truncates the lineage, so the
    # returned frame's plan holds only the rounds since the last
    # truncation: 41 rounds end one round past one, like the 5 rounds
    # of a 4-edge path
    def run(n, depth):
        before = _persisted_ids(spark)
        out = graph.bfs_distances(_edges(spark, [(i, i + 1) for i in range(n)]), 0, depth)
        got = {r.node: r.dist for r in out.collect()}
        joins = _plan_joins(out)
        out.unpersist()
        assert _persisted_ids(spark) - before == set()
        return got, joins

    got4, j4 = run(4, 6)
    assert got4 == {i: i for i in range(5)}
    got40, j40 = run(40, 42)
    assert got40 == {i: i for i in range(41)}  # the far end at 40
    assert j4 == j40 > 0
