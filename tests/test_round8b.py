"""Round-8 second batch: triangle enumeration (gds.alpha.triangles), the
HITS Cypher surface (gds.alpha.hits), DAG topological sort
(gds.dag.topologicalSort), and the coredec auto-probe degree-frame reuse.

Reference parity targets are the stock Neo4j GDS procs the reference's
users would call against the same projected graph
(/root/reference/phageclouds_gdb.py:57 builds the thresholded projection
these procs would consume); the engine re-expresses each as DataFrame
plans (operators/graph.py triangles_stream / hits_scores /
topological_levels).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from phageclouds_graphdatabase_spark.cypher import CypherEngine, phage_catalog
from phageclouds_graphdatabase_spark.cypher.compiler import CypherCompileError
from phageclouds_graphdatabase_spark.operators import graph as G

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


# ---------------------------------------------------------------------------
# triangles_stream
# ---------------------------------------------------------------------------

def test_triangles_stream_enumerates_each_once(spark):
    # K4 on a..d = 4 triangles; plus a pendant edge that joins none
    k4 = [(x, y) for i, x in enumerate("abcd") for y in "abcd"[i + 1:]]
    tri = G.triangles_stream(_edges(spark, k4 + [("d", "e")])).collect()
    got = sorted((r.node_a, r.node_b, r.node_c) for r in tri)
    assert got == [
        ("a", "b", "c"), ("a", "b", "d"), ("a", "c", "d"), ("b", "c", "d"),
    ]


def test_triangles_stream_orders_within_triple_and_dedups(spark):
    # duplicate + reversed + self-loop inputs collapse to one triangle
    e = [("c", "a"), ("a", "b"), ("b", "c"), ("a", "c"), ("b", "b")]
    tri = G.triangles_stream(_edges(spark, e)).collect()
    assert [(r.node_a, r.node_b, r.node_c) for r in tri] == [("a", "b", "c")]


def test_triangles_stream_consistent_with_counts(spark):
    # corner multiset of the enumeration == triangle_counts
    e = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("b", "d"),
         ("a", "e"), ("e", "b")]
    tri = G.triangles_stream(_edges(spark, e))
    corners = (
        tri.select(F.explode(F.array("node_a", "node_b", "node_c")).alias("id"))
        .groupBy("id").count()
    )
    counts = G.triangle_counts(_edges(spark, e))
    joined = counts.join(corners, "id", "full_outer").collect()
    assert all(r["n_triangles"] == r["count"] for r in joined)


# ---------------------------------------------------------------------------
# topological_levels
# ---------------------------------------------------------------------------

def test_topological_levels_longest_distance(spark):
    # diamond with a long arm: a->b->c->d and a->d; plus isolated source x->y
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"),
                       ("x", "y")])
    got = {r.id: r.dist for r in G.topological_levels(e).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3, "x": 0, "y": 1}


def test_topological_levels_cycle_raises(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")])
    with pytest.raises(G.GraphContainsCycleError):
        G.topological_levels(e)


def test_topological_levels_budget_truncates_silently(spark):
    # the documented oracle-budget form: max_rounds caps the levels and
    # leftover nodes are omitted (NOT an error, matching the unrolled SQL
    # only at/beyond the fixpoint — the suite pins fixpoint separately)
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    got = {r.id: r.dist for r in G.topological_levels(e, max_rounds=2).collect()}
    assert got == {"a": 0, "b": 1}


def test_topo_suite_budget_reaches_fixpoint_sf001():
    # the coredec-style pin: the suite's unrolled-oracle budget must
    # strictly exceed the measured DAG depth at the oracle SF, else the
    # two truncation semantics diverge silently
    from phageclouds_graphdatabase_spark.plans import suite_extensions as SE
    from phageclouds_graphdatabase_spark.session import get_spark

    spark = get_spark("test-topo-fixpoint")
    canon = SE._part_brand_edges(spark, SF01).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    dag = G._orient_edges(canon).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    depth = (
        G.topological_levels(dag).agg(F.max("dist")).collect()[0][0]
    )
    assert depth < SE.TOPO_SORT_ROUNDS, (
        f"sf0.01 DAG depth {depth} >= oracle budget "
        f"{SE.TOPO_SORT_ROUNDS}: bump TOPO_SORT_ROUNDS"
    )


# ---------------------------------------------------------------------------
# Cypher proc surface
# ---------------------------------------------------------------------------

def _engine(spark):
    nodes = spark.createDataFrame(
        [("p1", "NCBI", 30000), ("p2", "NCBI", 31000),
         ("s1", "Tara", 32000), ("s2", "Tara", 33000)],
        "accession string, source string, genome_size long",
    )
    edges = spark.createDataFrame(
        [("p1", "s1", 0.01), ("p1", "s2", 0.01), ("p2", "s1", 0.01)],
        "src string, dst string, distance double",
    )
    return CypherEngine(phage_catalog(nodes, edges), spark)


def test_cypher_hits_stream(spark):
    q = ("CALL gds.alpha.hits.stream('sharesDNA', {hitsIterations: 2}) "
         "YIELD nodeId, auth, hub RETURN nodeId, auth, hub")
    got = {r.nodeId: (r.auth, r.hub) for r in _engine(spark).run(q).collect()}
    assert got == {
        "p1": (0, 8), "p2": (0, 5), "s1": (5, 0), "s2": (3, 0),
    }


def test_cypher_hits_normalized_and_knob_errors(spark):
    q = ("CALL gds.hits.stream('sharesDNA', "
         "{hitsIterations: 2, normalized: true}) "
         "YIELD nodeId, auth RETURN nodeId, auth")
    rows = _engine(spark).run(q).collect()
    assert sum(r.auth ** 2 for r in rows) == pytest.approx(1.0)
    with pytest.raises(CypherCompileError):
        _engine(spark).run(
            "CALL gds.hits.stream('sharesDNA', {hitsIterations: 99}) "
            "YIELD nodeId RETURN nodeId"
        )
    with pytest.raises(CypherCompileError):
        _engine(spark).run(
            "CALL gds.hits.stream('sharesDNA', {hitsIterations: 'x'}) "
            "YIELD nodeId RETURN nodeId"
        )
    with pytest.raises(CypherCompileError):
        _engine(spark).run(
            "CALL gds.hits.stream('sharesDNA', {normalized: 1}) "
            "YIELD nodeId RETURN nodeId"
        )


def test_cypher_triangles_stream(spark):
    # triangle among p1-s1-s2 requires non-bipartite edges — use a custom
    # catalog with an s1-s2 edge
    nodes = spark.createDataFrame(
        [("a", "NCBI", 1), ("b", "NCBI", 2), ("c", "NCBI", 3)],
        "accession string, source string, genome_size long",
    )
    edges = spark.createDataFrame(
        [("a", "b", 0.01), ("b", "c", 0.01), ("c", "a", 0.01)],
        "src string, dst string, distance double",
    )
    eng = CypherEngine(phage_catalog(nodes, edges), spark)
    got = eng.run(
        "CALL gds.alpha.triangles('sharesDNA') "
        "YIELD nodeA, nodeB, nodeC RETURN nodeA, nodeB, nodeC"
    ).collect()
    assert [(r.nodeA, r.nodeB, r.nodeC) for r in got] == [("a", "b", "c")]


def test_cypher_toposort_stream_and_knobs(spark):
    q = ("CALL gds.dag.topologicalSort.stream('sharesDNA') "
         "YIELD nodeId, maxDistanceFromSource "
         "RETURN nodeId, maxDistanceFromSource")
    got = {r.nodeId: r.maxDistanceFromSource
           for r in _engine(spark).run(q).collect()}
    assert got == {"p1": 0.0, "p2": 0.0, "s1": 1.0, "s2": 1.0}
    with pytest.raises(CypherCompileError):
        _engine(spark).run(
            "CALL gds.dag.topologicalSort.stream('sharesDNA', "
            "{computeMaxDistanceFromSource: 'yes'}) "
            "YIELD nodeId RETURN nodeId"
        )
    with pytest.raises(CypherCompileError):
        _engine(spark).run(
            "CALL gds.dag.topologicalSort.stream('sharesDNA', "
            "{rounds: 1.5}) YIELD nodeId RETURN nodeId"
        )


def test_cypher_toposort_cycle_surfaces(spark):
    nodes = spark.createDataFrame(
        [("a", "NCBI", 1), ("b", "NCBI", 2)],
        "accession string, source string, genome_size long",
    )
    edges = spark.createDataFrame(
        [("a", "b", 0.01), ("b", "a", 0.01)],
        "src string, dst string, distance double",
    )
    eng = CypherEngine(phage_catalog(nodes, edges), spark)
    with pytest.raises(G.GraphContainsCycleError):
        eng.run(
            "CALL gds.dag.topologicalSort.stream('sharesDNA') "
            "YIELD nodeId RETURN nodeId"
        ).collect()


# ---------------------------------------------------------------------------
# coredec auto-probe: shared-degree-frame path
# ---------------------------------------------------------------------------

def test_coredec_auto_probe_deg_frame_matches_edges_path(spark):
    # K20 plus a long path: deep (h-index 19) — both probe call forms agree
    k20 = [(f"k{i}", f"k{j}") for i in range(20) for j in range(i + 1, 20)]
    path = [(f"n{i}", f"n{i+1}") for i in range(50)]
    e = _edges(spark, k20 + path)
    und = e.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).filter(F.col("a") != F.col("b")).distinct()
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("core"))
    )
    for cut, expect in ((16, True), (20, False)):
        assert G._coredec_auto_pack(e, depth_bound_cut=cut, min_nodes=1) is expect
        assert G._coredec_auto_pack(
            deg=deg, depth_bound_cut=cut, min_nodes=1
        ) is expect


def test_coredec_auto_still_value_identical(spark):
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("b", "d"),
         ("d", "e"), ("e", "f")],
    )
    base = sorted(
        (r.id, r.core) for r in G.core_decomposition(e, pack_ids=False).collect()
    )
    assert sorted(
        (r.id, r.core) for r in G.core_decomposition(e, pack_ids="auto").collect()
    ) == base


# ---------------------------------------------------------------------------
# bellman_ford_costs
# ---------------------------------------------------------------------------

def _wedges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, w long")


def test_bellman_ford_negative_weights_by_hand(spark):
    # a->b (5), b->c (-3), a->c (4): min cost a->c is 2 via b, found only
    # because negative weights are allowed past the greedy 1-hop answer
    e = _wedges(spark, [("a", "b", 5), ("b", "c", -3), ("a", "c", 4)])
    seeds = e.sparkSession.createDataFrame([("a",)], "id string")
    got = {(r.src, r.dst): r.cost
           for r in G.bellman_ford_costs(seeds, e).collect()}
    assert got == {("a", "b"): 5, ("a", "c"): 2}


def test_bellman_ford_budget_matches_unrolled_rounds(spark):
    # with max_rounds=1 the c row holds the 1-hop cost 4 (the oracle's
    # identical truncation); the fixpoint improves it to 2
    e = _wedges(spark, [("a", "b", 5), ("b", "c", -3), ("a", "c", 4)])
    seeds = e.sparkSession.createDataFrame([("a",)], "id string")
    got1 = {(r.src, r.dst): r.cost
            for r in G.bellman_ford_costs(seeds, e, max_rounds=1).collect()}
    assert got1 == {("a", "b"): 5, ("a", "c"): 4}


def test_bellman_ford_negative_cycle_raises(spark):
    e = _wedges(spark, [("a", "b", 1), ("b", "c", -2), ("c", "b", 1)])
    seeds = e.sparkSession.createDataFrame([("a",)], "id string")
    with pytest.raises(G.NegativeCycleError):
        G.bellman_ford_costs(seeds, e)


def test_bellman_ford_negative_return_to_seed_kept(spark):
    # a->b (-2), b->a (1): no negative cycle (sum -1 < 0!) — wait, that
    # IS a negative cycle; use sum 0 instead: a->b (-2), b->a (2) is a
    # zero cycle (legal), and the (a, a, 0) trivial row stays dropped
    # while (a, b, -2) streams
    e = _wedges(spark, [("a", "b", -2), ("b", "a", 2)])
    seeds = e.sparkSession.createDataFrame([("a",)], "id string")
    got = {(r.src, r.dst): r.cost
           for r in G.bellman_ford_costs(seeds, e).collect()}
    assert got == {("a", "b"): -2}


def test_cypher_bellmanford_stream_and_knobs(spark):
    q = ("CALL gds.bellmanFord.stream('sharesDNA', "
         "{sourceNodes: ['p1']}) "
         "YIELD sourceNodeId, targetNodeId, totalCost "
         "RETURN sourceNodeId, targetNodeId, totalCost")
    got = {(r.sourceNodeId, r.targetNodeId): r.totalCost
           for r in _engine(spark).run(q).collect()}
    # distance 0.01 at scale 10000 -> 100
    assert got == {("p1", "s1"): 100, ("p1", "s2"): 100}
    with pytest.raises(CypherCompileError):
        _engine(spark).run(
            "CALL gds.bellmanFord.stream('sharesDNA') "
            "YIELD sourceNodeId RETURN sourceNodeId"
        )
    with pytest.raises(CypherCompileError):
        _engine(spark).run(
            "CALL gds.bellmanFord.stream('sharesDNA', "
            "{sourceNodes: ['p1'], rounds: 2.5}) "
            "YIELD sourceNodeId RETURN sourceNodeId"
        )


# ---------------------------------------------------------------------------
# dag_longest_paths
# ---------------------------------------------------------------------------

def test_dag_longest_paths_by_hand(spark):
    # a->b(2), b->c(1), a->c(5), d->c(-1): sources a, d; longest to c is
    # 5 (direct beats the 3-hop 2+1); b gets 2; sources at 0
    e = _wedges(spark, [("a", "b", 2), ("b", "c", 1), ("a", "c", 5),
                        ("d", "c", -1)])
    got = {r.id: r.dist for r in G.dag_longest_paths(e).collect()}
    assert got == {"a": 0, "d": 0, "b": 2, "c": 5}


def test_dag_longest_paths_negative_only_route(spark):
    # the only route carries a negative total: longest is still that max
    e = _wedges(spark, [("a", "b", -3)])
    got = {r.id: r.dist for r in G.dag_longest_paths(e).collect()}
    assert got == {"a": 0, "b": -3}


def test_dag_longest_paths_cycle_raises(spark):
    e = _wedges(spark, [("a", "b", 1), ("b", "c", 1), ("c", "b", 1)])
    with pytest.raises(G.GraphContainsCycleError):
        G.dag_longest_paths(e)


def test_cypher_dag_longest_stream(spark):
    q = ("CALL gds.dag.longestPath.stream('sharesDNA') "
         "YIELD targetNodeId, distance RETURN targetNodeId, distance")
    got = {r.targetNodeId: r.distance for r in _engine(spark).run(q).collect()}
    # sources p1, p2 at 0; s1/s2 at max incoming 0.01*10000 = 100
    assert got == {"p1": 0, "p2": 0, "s1": 100, "s2": 100}


# ---------------------------------------------------------------------------
# k_truss delta peeling
# ---------------------------------------------------------------------------

def _ktruss_pairs(df):
    return sorted((r.a, r.b, r.support) for r in df.collect())


def test_ktruss_delta_matches_full_cascading(spark):
    # two K4s sharing edge (d,e)... build a graph where peeling CASCADES:
    # K4 abcd + pendant triangle cde + chain — k=4 (support >= 2) peels
    # the triangle, which strips support from K4 edges touching c/d
    k4 = [(x, y) for i, x in enumerate("abcd") for y in "abcd"[i + 1:]]
    extra = [("c", "e"), ("d", "e"), ("e", "f"), ("a", "f")]
    e = _edges(spark, k4 + extra)
    for rounds in (1, 2, 3, None):
        full = G.k_truss(e, k=4, rounds=rounds)
        dlt = G.k_truss(e, k=4, rounds=rounds, delta=True)
        assert _ktruss_pairs(full) == _ktruss_pairs(dlt), f"rounds={rounds}"


def test_ktruss_delta_matches_full_on_derived_graph():
    # the suite's own graph at sf0.001: the real differential
    from phageclouds_graphdatabase_spark.plans._suite_helpers import t as _t
    from phageclouds_graphdatabase_spark.session import get_spark

    spark = get_spark("test-ktruss-delta")
    p = _t(spark, SF, "part").select("p_partkey", "p_brand", "p_size")
    x, y = p.alias("x"), p.alias("y")
    e = x.join(
        y,
        (F.col("x.p_brand") == F.col("y.p_brand"))
        & (F.abs(F.col("x.p_size") - F.col("y.p_size")) <= 1)
        & (F.col("x.p_partkey") < F.col("y.p_partkey")),
    ).select(
        F.col("x.p_partkey").alias("src"), F.col("y.p_partkey").alias("dst")
    )
    full = G.k_truss(e, k=4, rounds=2)
    dlt = G.k_truss(e, k=4, rounds=2, delta=True)
    assert _ktruss_pairs(full) == _ktruss_pairs(dlt)


def test_ktruss_delta_multi_peeled_triangle_decrements_once(spark):
    # a triangle with TWO peeled member edges must decrement its one
    # surviving member exactly once (the tri-role distinct): build K4
    # minus one edge so (a,b) sits in exactly 2 triangles, (c,d) absent
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c"),
                       ("a", "d"), ("b", "d")])
    # k=4: supports are ab=2, others=1 -> peel strips ac,bc,ad,bd; the
    # two triangles abc/abd each lose TWO edges; ab must drop 2 -> 0
    full = G.k_truss(e, k=4, rounds=2)
    dlt = G.k_truss(e, k=4, rounds=2, delta=True)
    assert _ktruss_pairs(full) == _ktruss_pairs(dlt) == []


def test_cypher_ktruss_delta_knob(spark):
    nodes = spark.createDataFrame(
        [(x, "NCBI", 1) for x in "abcd"],
        "accession string, source string, genome_size long",
    )
    k4 = [(x, y, 0.01) for i, x in enumerate("abcd") for y in "abcd"[i + 1:]]
    edges = spark.createDataFrame(k4, "src string, dst string, distance double")
    eng = CypherEngine(phage_catalog(nodes, edges), spark)
    q = ("CALL gds.ktruss.stream('sharesDNA', {k: 4, delta: true}) "
         "YIELD sourceNodeId, targetNodeId, support "
         "RETURN sourceNodeId, targetNodeId, support")
    got = sorted((r.sourceNodeId, r.targetNodeId, r.support)
                 for r in eng.run(q).collect())
    assert got == [(x, y, 2) for i, x in enumerate("abcd") for y in "abcd"[i + 1:]]
    with pytest.raises(CypherCompileError):
        eng.run("CALL gds.ktruss.stream('sharesDNA', {delta: 1}) "
                "YIELD support RETURN support")
