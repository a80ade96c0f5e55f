"""Round-9 batch 1: ADVICE r8 fixes — Bellman-Ford empty-projection
fixpoint, core_decomposition pack_ids validation, Cypher ktruss
delta='auto' parity with the operator default.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from phageclouds_graphdatabase_spark.cypher.compiler import CypherCompileError
from phageclouds_graphdatabase_spark.operators import graph as G


def _wedges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, w long")


# ---------------------------------------------------------------------------
# ADVICE r8 (medium): bellman_ford_costs fixpoint on an empty edge list
# ---------------------------------------------------------------------------

def test_bellman_ford_empty_edges_fixpoint_returns_empty(spark):
    # an edge-free projection (threshold filters out every edge) used to
    # raise a spurious NegativeCycleError in fixpoint mode: n_nodes=0,
    # prev=None never matched round 1's probe. Now the probe is seeded
    # from the initial state, so the no-op round breaks cleanly.
    e = _wedges(spark, []).limit(0)
    seeds = spark.createDataFrame([("a",), ("b",)], "id string")
    assert G.bellman_ford_costs(seeds, e).collect() == []


def test_bellman_ford_seeds_without_out_edges_fixpoint(spark):
    # seeds disjoint from every edge source: round 1 is a no-op too
    e = _wedges(spark, [("x", "y", 3)])
    seeds = spark.createDataFrame([("a",)], "id string")
    assert G.bellman_ford_costs(seeds, e).collect() == []


def test_dag_longest_paths_empty_edges_returns_empty(spark):
    # dag_longest_paths re-surfaced the spurious raise as
    # GraphContainsCycleError; an empty projection now yields no rows
    e = _wedges(spark, []).limit(0)
    assert G.dag_longest_paths(e).collect() == []


def test_bellman_ford_fixpoint_still_finds_negative_routes(spark):
    # regression guard: seeding prev from the initial state must NOT
    # cause an early break when round 1 does improve costs
    e = _wedges(spark, [("a", "b", 5), ("b", "c", -3), ("a", "c", 4)])
    seeds = spark.createDataFrame([("a",)], "id string")
    got = {(r.src, r.dst): r.cost
           for r in G.bellman_ford_costs(seeds, e).collect()}
    assert got == {("a", "b"): 5, ("a", "c"): 2}


# ---------------------------------------------------------------------------
# ADVICE r8 (low): core_decomposition pack_ids validation
# ---------------------------------------------------------------------------

def test_core_decomposition_pack_ids_rejects_non_canonical(spark):
    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="pack_ids"):
        G.core_decomposition(e, pack_ids=1)
    with pytest.raises(ValueError, match="pack_ids"):
        G.core_decomposition(e, pack_ids="yes")


# ---------------------------------------------------------------------------
# ADVICE r8 (low): Cypher gds.ktruss.stream accepts delta: 'auto'
# ---------------------------------------------------------------------------

def _ktruss_cypher(spark, delta_literal):
    from phageclouds_graphdatabase_spark.cypher import CypherEngine, phage_catalog

    nodes = spark.createDataFrame(
        [(x, "NCBI", 1) for x in "abcd"],
        "accession string, source string, genome_size long",
    )
    k4 = [(x, y, 0.01) for i, x in enumerate("abcd") for y in "abcd"[i + 1:]]
    edges = spark.createDataFrame(k4, "src string, dst string, distance double")
    eng = CypherEngine(phage_catalog(nodes, edges), spark)
    cfg = "" if delta_literal is None else f", delta: {delta_literal}"
    return eng.run(
        "CALL gds.ktruss.stream('sharesDNA', {k: 3" + cfg + "}) "
        "YIELD sourceNodeId, targetNodeId, support "
        "RETURN sourceNodeId, targetNodeId, support"
    )


def test_cypher_ktruss_delta_auto_accepted_and_default(spark):
    base = sorted(map(tuple, _ktruss_cypher(spark, None).collect()))
    assert base == sorted(map(tuple, _ktruss_cypher(spark, "'auto'").collect()))
    assert base == sorted(map(tuple, _ktruss_cypher(spark, "true").collect()))
    assert base == sorted(map(tuple, _ktruss_cypher(spark, "false").collect()))
    assert len(base) == 6  # K4: every edge has support 2 at k=3


def test_cypher_ktruss_delta_bad_value_rejected(spark):
    with pytest.raises(CypherCompileError, match="delta"):
        _ktruss_cypher(spark, "1")


# ---------------------------------------------------------------------------
# Round-9 nodesim vectorized kernel (VERDICT r8 ask #1)
# ---------------------------------------------------------------------------

def _rand_graph(spark, seed, n_src=40, n_dst=12, m=160):
    import random

    rng = random.Random(seed)
    rows = list({(f"s{rng.randrange(n_src)}", f"d{rng.randrange(n_dst)}")
                 for _ in range(m)})
    return spark.createDataFrame(rows, "src string, dst string")


@pytest.mark.parametrize("metric", ["jaccard", "overlap", "cosine"])
def test_nodesim_vectorized_matches_jvm(spark, metric):
    # the Arrow kernel must be BIT-identical to the JVM path: same rows,
    # same float64 scores, same tie-broken ranks
    e = _rand_graph(spark, seed=7)
    jvm = {(r.a, r.b): (r.inter, r.union_sz, getattr(r, metric), r.rnk)
           for r in G.node_similarity_topk(
               e, k=5, metric=metric, vectorized=False).collect()}
    vec = {(r.a, r.b): (r.inter, r.union_sz, getattr(r, metric), r.rnk)
           for r in G.node_similarity_topk(
               e, k=5, metric=metric, vectorized=True).collect()}
    assert vec == jvm and len(vec) > 0


def test_nodesim_auto_picks_vectorized_on_small_graph(spark):
    # auto == True on a packable, low-volume graph (differential identity
    # is the real pin; this just confirms auto doesn't silently diverge)
    e = _rand_graph(spark, seed=11)
    auto = sorted(map(tuple, G.node_similarity_topk(e, k=3).collect()))
    vec = sorted(map(tuple,
                     G.node_similarity_topk(e, k=3, vectorized=True).collect()))
    assert auto == vec


def test_nodesim_vectorized_param_validated(spark):
    e = spark.createDataFrame([("a", "x")], "src string, dst string")
    with pytest.raises(ValueError, match="vectorized"):
        G.node_similarity_topk(e, vectorized=1)


def test_nodesim_vectorized_empty_graph(spark):
    e = spark.createDataFrame([], "src string, dst string")
    assert G.node_similarity_topk(e).collect() == []


def test_nodesim_capped_delegate_still_identical(spark):
    # the capped wrapper's unskewed delegate now routes through the
    # vectorized kernel — value parity with the explicit-cap two-pass
    e = _rand_graph(spark, seed=23)
    free = sorted(map(tuple, G.node_similarity_topk_capped(
        e, k=4, freq_cap="auto", upper_degree_cutoff=10_000).collect()))
    capped = sorted(map(tuple, G.node_similarity_topk_capped(
        e, k=4, freq_cap=10_000).collect()))
    assert free == capped and len(free) > 0


# ---------------------------------------------------------------------------
# Round-9 harmonic exact parity opt-in (VERDICT r8 "What's missing" #1)
# ---------------------------------------------------------------------------

def test_harmonic_exact_by_hand(spark):
    # path a-b-c (undirected): n=3
    #  a: reached by b(d1), c(d2) -> (1/1 + 1/2)/2 = 0.75
    #  b: reached by a(d1), c(d1) -> (2/1)/2       = 1.0
    e = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    got = {r.id: (r.score, r.n_reached)
           for r in G.harmonic_centrality_exact(e, max_depth=4).collect()}
    assert got == {"a": (0.75, 2), "b": (1.0, 2), "c": (0.75, 2)}


def test_harmonic_exact_guards(spark):
    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="max_nodes"):
        G.harmonic_centrality_exact(e, max_nodes=1)
    with pytest.raises(ValueError, match="max_depth"):
        G.harmonic_centrality_exact(e, max_depth=0)


def test_cypher_harmonic_exact_stream(spark):
    from phageclouds_graphdatabase_spark.cypher import CypherEngine, phage_catalog

    nodes = spark.createDataFrame(
        [(x, "NCBI", 1) for x in "abc"],
        "accession string, source string, genome_size long",
    )
    edges = spark.createDataFrame(
        [("a", "b", 0.01), ("b", "c", 0.01)],
        "src string, dst string, distance double",
    )
    eng = CypherEngine(phage_catalog(nodes, edges), spark)
    q = ("CALL gds.closeness.harmonic.stream('sharesDNA', {exact: true}) "
         "YIELD nodeId, score RETURN nodeId, score")
    got = {r.nodeId: r.score for r in eng.run(q).collect()}
    assert got == {"a": 0.75, "b": 1.0, "c": 0.75}
    with pytest.raises(CypherCompileError, match="exact"):
        eng.run("CALL gds.closeness.harmonic.stream('sharesDNA', {exact: 1}) "
                "YIELD nodeId RETURN nodeId")


# ---------------------------------------------------------------------------
# Round-9 multi-property gds.knn.stream (VERDICT r8 "What's missing" #3)
# ---------------------------------------------------------------------------

def _vec_props(spark, seed=3, n=30, dims=6):
    import random

    rng = random.Random(seed)
    rows = [(str(i), [rng.randrange(-50, 51) for _ in range(dims)])
            for i in range(n)]
    return spark.createDataFrame(rows, "id string, vec array<long>")


def test_knn_vector_similarity_values_exact(spark):
    # every returned pair's cosine must equal the direct exact value
    import math

    props = _vec_props(spark)
    vecs = {r.id: r.vec for r in props.collect()}
    from phageclouds_graphdatabase_spark.operators.ann import knn_vector_topk

    out = knn_vector_topk(props, k=3).collect()
    assert len(out) > 0
    for r in out:
        va, vb = vecs[r.id1], vecs[r.id2]
        dot = sum(x * y for x, y in zip(va, vb))
        na = sum(x * x for x in va)
        nb = sum(x * x for x in vb)
        assert r.similarity == dot / math.sqrt(na * nb)


def test_knn_vector_deterministic_and_ranked(spark):
    from phageclouds_graphdatabase_spark.operators.ann import knn_vector_topk

    props = _vec_props(spark, seed=9)
    a = sorted(map(tuple, knn_vector_topk(props, k=4).collect()))
    b = sorted(map(tuple, knn_vector_topk(props, k=4).collect()))
    assert a == b
    # <= k rows per node, ordered by (similarity desc, id2) per node
    per = {}
    for id1, id2, sim in a:
        per.setdefault(id1, []).append((sim, id2))
    for id1, rows in per.items():
        assert len(rows) <= 4


def test_knn_vector_guards(spark):
    from phageclouds_graphdatabase_spark.operators.ann import knn_vector_topk

    props = _vec_props(spark)
    with pytest.raises(ValueError, match="k must"):
        knn_vector_topk(props, k=0)
    with pytest.raises(ValueError, match="planes"):
        knn_vector_topk(props, planes=0)
    with pytest.raises(ValueError, match="bands"):
        knn_vector_topk(props, bands=100)
    empty = spark.createDataFrame([], "id string, vec array<long>")
    assert knn_vector_topk(empty).collect() == []


def test_cypher_knn_multiproperty_routes_vector_path(spark):
    from phageclouds_graphdatabase_spark.cypher import CypherEngine, phage_catalog
    from phageclouds_graphdatabase_spark.operators.ann import knn_vector_topk
    import random

    rng = random.Random(5)
    nodes = spark.createDataFrame(
        [(f"p{i}", "NCBI", rng.randrange(-40, 40), rng.randrange(-40, 40))
         for i in range(25)],
        "accession string, source string, genome_size long, gc_count long",
    )
    edges = spark.createDataFrame(
        [("p0", "p1", 0.01)], "src string, dst string, distance double")
    eng = CypherEngine(phage_catalog(nodes, edges), spark)
    q = ("CALL gds.knn.stream('sharesDNA', "
         "{nodeProperties: ['genome_size', 'gc_count'], topK: 3, "
         "planes: 2, bands: 4}) "
         "YIELD node1, node2, similarity RETURN node1, node2, similarity")
    got = sorted(map(tuple, eng.run(q).collect()))
    props = nodes.select(
        F.col("accession").alias("id"),
        F.array(F.col("genome_size"), F.col("gc_count")).alias("vec"),
    )
    exp = sorted(
        (r.id1, r.id2, r.similarity)
        for r in knn_vector_topk(props, k=3, planes=2, bands=4).collect()
    )
    assert got == exp and len(got) > 0


def test_cypher_knn_single_property_still_scalar(spark):
    # 1-element nodeProperties keeps the exact 1-D integer-scaled path
    from phageclouds_graphdatabase_spark.cypher import CypherEngine, phage_catalog

    nodes = spark.createDataFrame(
        [("a", "NCBI", 10), ("b", "NCBI", 12), ("c", "NCBI", 30)],
        "accession string, source string, genome_size long",
    )
    edges = spark.createDataFrame(
        [("a", "b", 0.01)], "src string, dst string, distance double")
    eng = CypherEngine(phage_catalog(nodes, edges), spark)
    q = ("CALL gds.knn.stream('sharesDNA', "
         "{nodeProperties: ['genome_size'], topK: 1}) "
         "YIELD node1, node2, similarity RETURN node1, node2, similarity")
    got = {r.node1: (r.node2, r.similarity) for r in eng.run(q).collect()}
    assert got["a"] == ("b", 1_000_000 // 3)
    assert got["b"] == ("a", 1_000_000 // 3)


def test_knn_vector_kernel_signature_identical_to_jvm(spark):
    # the Arrow GEMM signature path must produce the SAME candidate
    # equivalence classes — hence identical final results
    from phageclouds_graphdatabase_spark.operators.ann import knn_vector_topk

    props = _vec_props(spark, seed=31, n=40, dims=8)
    jvm = sorted(map(tuple,
                     knn_vector_topk(props, k=4, signature="jvm").collect()))
    ker = sorted(map(tuple,
                     knn_vector_topk(props, k=4, signature="kernel").collect()))
    assert jvm == ker and len(jvm) > 0


def test_knn_vector_signature_param_validated(spark):
    from phageclouds_graphdatabase_spark.operators.ann import knn_vector_topk

    props = _vec_props(spark)
    with pytest.raises(ValueError, match="signature"):
        knn_vector_topk(props, signature="numpy")
