"""Unit tests for the graph operators (SURVEY.md §2.3, §2.6 W6) on the
FIXTURES.md §A synthetic graph, including the golden-parity quirks:
directed-only expand, exact-threshold edges, -0.0 distances, isolated nodes.

A pure-Python union-find is the oracle for connected components. The
node-similarity decode joins broadcast their id dictionary only under the
row cap, counted over every distinct node."""

from __future__ import annotations

from pyspark.sql import functions as F

from phageclouds_graphdatabase_spark.operators import graph as G
from tests.conftest import EDGE_ROWS, NODE_ROWS


def ids(df, col="id"):
    return {r[col] for r in df.collect()}


def seed_df(spark, *accessions):
    return spark.createDataFrame([(a,) for a in accessions], "id string")


def test_expand_directed_follows_out_edges_only(spark, shares_dna):
    # C1 -> A1 points INTO the seed set: directed expand from A1 must NOT
    # pull in C1 (the reference's silent "outgoing neighbors" semantics,
    # /root/reference/phageclouds_gdb.py:56-58).
    out = G.expand(seed_df(spark, "A1"), shares_dna, threshold=0.25)
    assert ids(out) == {"A1", "A2", "A3"}


def test_expand_undirected_variant(spark, shares_dna):
    out = G.expand(seed_df(spark, "A1"), shares_dna, threshold=0.25, directed=False)
    assert ids(out) == {"A1", "A2", "A3", "C1"}


def test_expand_keeps_edgeless_seeds(spark, shares_dna):
    # E1 has no edges; OPTIONAL-MATCH expand (J4) keeps it.
    out = G.expand(seed_df(spark, "E1"), shares_dna, threshold=0.25)
    assert ids(out) == {"E1"}


def test_expand_threshold_is_inclusive(spark, shares_dna):
    # D1 -> D2 at exactly 0.25: `r.distance <= t` keeps it.
    out = G.expand(seed_df(spark, "D1"), shares_dna, threshold=0.25)
    assert ids(out) == {"D1", "D2"}
    out_below = G.expand(seed_df(spark, "D1"), shares_dna, threshold=0.249)
    assert ids(out_below) == {"D1"}


def test_induced_subgraph_requires_both_endpoints(spark, shares_dna):
    ns = seed_df(spark, "A1", "A2", "A3", "B1")
    out = G.induced_subgraph(ns, shares_dna, threshold=0.25)
    got = {(r.src, r.dst) for r in out.collect()}
    # A3->B1 (0.40) excluded by threshold; C1->A1 excluded (C1 not in set).
    assert got == {("A1", "A2"), ("A1", "A3"), ("A2", "A3")}


def test_negative_zero_distance_passes_threshold(spark, shares_dna):
    out = G.induced_subgraph(seed_df(spark, "F1", "F2"), shares_dna, threshold=0.1)
    assert {(r.src, r.dst) for r in out.collect()} == {("F1", "F2")}


def test_degrees(spark, shares_dna):
    d = {r.id: (r.out_degree, r.in_degree, r.degree) for r in G.degrees(shares_dna).collect()}
    assert d["A1"] == (2, 1, 3)   # out: A2,A3; in: C1
    assert d["B2"] == (0, 2, 2)   # in from B1 and B3
    assert d["A3"] == (1, 2, 3)
    assert "E1" not in d          # no edges -> not in edge-derived degrees


def _union_find_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


import pytest


@pytest.mark.parametrize("method", ["hashmin", "contract"])
@pytest.mark.parametrize("local_threshold", [1_000_000, 0])
def test_connected_components_matches_union_find(
    spark, shares_dna, phage_nodes, method, local_threshold
):
    # local_threshold=1M exercises the driver-local fast path (this graph
    # is tiny); 0 forces the distributed loop. Labels must be identical.
    thr = 0.25
    all_nodes = [r[0] for r in NODE_ROWS]
    got = {
        r.id: r.component
        for r in G.connected_components(
            shares_dna.filter(F.col("distance") <= thr),
            nodes=phage_nodes.select(F.col("accession").alias("id")),
            method=method,
            local_threshold=local_threshold,
        ).collect()
    }
    edges = [(s, d) for s, d, w in EDGE_ROWS if w <= thr]
    want = _union_find_components(edges, all_nodes)
    assert got == want
    # Sanity on the known topology: {A1,A2,A3,C1}, {B1,B2,B3}, {D1,D2},
    # {E1}, {F1,F2} -- labels are min-id per component.
    assert got["C1"] == "A1" and got["B3"] == "B1" and got["E1"] == "E1"


@pytest.mark.parametrize("method", ["hashmin", "contract"])
def test_connected_components_relabel_equivalence(
    spark, shares_dna, phage_nodes, method
):
    # The long-id dictionary encoding is a pure execution optimization: the
    # decoded result must be bit-identical to iterating on the string ids.
    thr = 0.25
    e = shares_dna.filter(F.col("distance") <= thr)
    kw = dict(
        nodes=phage_nodes.select(F.col("accession").alias("id")),
        method=method,
        local_threshold=0,  # the encoding only exists on the distributed path
    )
    on = {
        (r.id, r.component)
        for r in G.connected_components(e, relabel_ids=True, **kw).collect()
    }
    off = {
        (r.id, r.component)
        for r in G.connected_components(e, relabel_ids=False, **kw).collect()
    }
    assert on == off


def hops(df):
    return {(r.id, r.hops) for r in df.collect()}


def test_k_hop_directed_levels(spark, shares_dna):
    # C1 -0.10-> A1 -> {A2, A3}; A3 -0.40-> B1 is over the threshold.
    got = hops(G.k_hop(seed_df(spark, "C1"), shares_dna, k=2, threshold=0.25))
    assert got == {("C1", 0), ("A1", 1), ("A2", 2), ("A3", 2)}


def test_k_hop_min_hop_wins_and_early_exit(spark, shares_dna):
    # A3 is reachable at hop 2 via A1->A2->A3 AND hop 1 via A1->A3: BFS
    # must record 1. k=10 early-exits once the frontier empties.
    got = hops(G.k_hop(seed_df(spark, "A1"), shares_dna, k=10, threshold=0.25))
    assert got == {("A1", 0), ("A2", 1), ("A3", 1)}


def test_k_hop_undirected_crosses_edge_direction(spark, shares_dna):
    # undirected: B1 -> B2 (out-edge) then B2 -> B3 (IN-edge B3->B2).
    got = hops(
        G.k_hop(seed_df(spark, "B1"), shares_dna, k=2, threshold=0.25, directed=False)
    )
    assert got == {("B1", 0), ("B2", 1), ("B3", 2)}


def test_pagerank_scaled_hand_computed(spark, shares_dna):
    """2-iteration integer PageRank on the t<=0.25 fixture graph, every
    value hand-derived (scale 1e6, d=85/100, base 150000)."""
    got = {
        r.id: r.pr_scaled
        for r in G.pagerank_scaled(
            shares_dna.filter(F.col("distance") <= 0.25), iterations=2
        ).collect()
    }
    assert got == {
        "A1": 277_500,   # only in-edge C1, which holds base mass after iter1
        "A2": 575_000,   # half of A1's 1_000_000
        "A3": 1_063_750, # A1/2 + A2's full iter-1 mass
        "B2": 405_000,   # B1 + B3, both at base after iter1
        "D2": 277_500,
        "F2": 277_500,
        "B1": 150_000, "B3": 150_000, "C1": 150_000,
        "D1": 150_000, "F1": 150_000,
    }


@pytest.mark.parametrize("method", ["hashmin", "contract"])
def test_connected_components_reliable_checkpoint(
    spark, shares_dna, phage_nodes, tmp_path, method
):
    """checkpoint_dir swaps localCheckpoint for reliable checkpoint():
    identical labels, and the checkpoint files actually land in the dir
    (what survives executor loss on a cluster)."""
    import os

    ckpt = str(tmp_path / "ckpt")
    got = {
        r.id: r.component
        for r in G.connected_components(
            shares_dna.filter(F.col("distance") <= 0.25),
            nodes=phage_nodes.select(F.col("accession").alias("id")),
            method=method,
            checkpoint_dir=ckpt,
            local_threshold=0,  # checkpointing only exists on the distributed path
        ).collect()
    }
    want = _union_find_components(
        [(s, d) for s, d, w in EDGE_ROWS if w <= 0.25], [r[0] for r in NODE_ROWS]
    )
    assert got == want
    assert any(files for _, _, files in os.walk(ckpt))


def test_cloud_membership_sizes(spark, shares_dna):
    cm = {r.id: r.cloud_size for r in G.cloud_membership(shares_dna, 0.25).collect()}
    assert cm["A1"] == 4 and cm["B2"] == 3 and cm["D2"] == 2 and cm["F1"] == 2


def test_k_core_peels_to_triangle(spark, shares_dna):
    from phageclouds_graphdatabase_spark.operators import graph as G

    # 2-core of the fixture graph: only the A1-A2-A3 triangle survives
    got = sorted((r.id, r.degree) for r in G.k_core(shares_dna, 2).collect())
    assert got == [("A1", 2), ("A2", 2), ("A3", 2)]
    # fixed-rounds mode converges to the same set once rounds >= needed
    got_fixed = sorted(
        (r.id, r.degree) for r in G.k_core(shares_dna, 2, rounds=5).collect()
    )
    assert got_fixed == got


def test_k_core_1_drops_only_isolated(spark, shares_dna):
    from phageclouds_graphdatabase_spark.operators import graph as G

    ids = sorted(r.id for r in G.k_core(shares_dna, 1).collect())
    # every node with at least one edge (E1 is isolated and never appears)
    assert ids == ["A1", "A2", "A3", "B1", "B2", "B3", "C1", "D1", "D2", "F1", "F2"]


def test_k_core_3_is_empty_on_fixture(spark, shares_dna):
    from phageclouds_graphdatabase_spark.operators import graph as G

    assert G.k_core(shares_dna, 3).count() == 0


def test_k_core_delta_equals_naive_on_random_graphs(spark):
    import random

    from phageclouds_graphdatabase_spark.operators import graph as G

    rng = random.Random(7)
    for trial in range(3):
        n, m = 40, 120
        seen = set()
        rows = []
        while len(rows) < m:
            a, b = rng.randrange(n), rng.randrange(n)
            if a == b or (min(a, b), max(a, b)) in seen:
                continue
            seen.add((min(a, b), max(a, b)))
            rows.append((f"N{a}", f"N{b}", 0.1))
        edges = spark.createDataFrame(rows, "src string, dst string, distance double")
        for k in (2, 3, 4):
            fix = sorted(map(tuple, G.k_core(edges, k).collect()))
            naive = sorted(map(tuple, G.k_core(edges, k, rounds=25).collect()))
            assert fix == naive, (trial, k)


def test_core_decomposition_hand_computed(spark):
    from phageclouds_graphdatabase_spark.operators import graph as G

    # triangle {A,B,C} + tail C-D-E: coreness A/B/C = 2, D/E = 1
    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("A", "C"), ("C", "D"), ("D", "E")],
        "src string, dst string",
    )
    got = sorted((r.id, r.core) for r in G.core_decomposition(e).collect())
    assert got == [("A", 2), ("B", 2), ("C", 2), ("D", 1), ("E", 1)]


def test_core_decomposition_ignores_parallel_and_self_edges(spark):
    from phageclouds_graphdatabase_spark.operators import graph as G

    # coreness is a neighbor-SET notion: doubled edges and self-loops
    # must not inflate it (same canonicalization as triangle_counts)
    e = spark.createDataFrame(
        [("A", "B"), ("B", "A"), ("A", "B"), ("A", "A"),
         ("B", "C"), ("A", "C")],
        "src string, dst string",
    )
    got = sorted((r.id, r.core) for r in G.core_decomposition(e).collect())
    assert got == [("A", 2), ("B", 2), ("C", 2)]


def test_core_decomposition_matches_peeling_on_random_graphs(spark):
    # the h-index fixpoint IS coreness (Lü et al. 2016): for every k,
    # {v : core(v) >= k} must equal the k_core peel's survivor set
    import random

    from phageclouds_graphdatabase_spark.operators import graph as G

    rng = random.Random(11)
    for trial in range(2):
        n, m = 35, 110
        seen = set()
        rows = []
        while len(rows) < m:
            a, b = rng.randrange(n), rng.randrange(n)
            if a == b or (min(a, b), max(a, b)) in seen:
                continue
            seen.add((min(a, b), max(a, b)))
            rows.append((f"N{a}", f"N{b}"))
        edges = spark.createDataFrame(rows, "src string, dst string")
        core = {r.id: r.core for r in G.core_decomposition(edges).collect()}
        max_core = max(core.values())
        for k in range(1, max_core + 2):
            want = {i for i, c in core.items() if c >= k}
            got = {r.id for r in G.k_core(edges, k).collect()}
            assert got == want, (trial, k)


def test_core_decomposition_delta_matches_full(spark):
    # the dirty-set iteration must be round-for-round identical to the
    # full synchronous update — fixed budgets AND the fixpoint
    import random

    from phageclouds_graphdatabase_spark.operators import graph as G

    rng = random.Random(17)
    rows = sorted({tuple(sorted(rng.sample(range(30), 2))) for _ in range(80)})
    e = spark.createDataFrame(rows, "src int, dst int")
    for rounds in (1, 2, None):
        full = sorted(
            map(tuple, G.core_decomposition(e, rounds=rounds).collect())
        )
        dlt = sorted(
            map(
                tuple,
                G.core_decomposition(e, rounds=rounds, delta=True).collect(),
            )
        )
        assert full == dlt and len(full) > 0, rounds


def test_core_decomposition_fixed_rounds_matches_driver_sim(spark):
    # pre-convergence rounds must be round-for-round reproducible (the
    # property the unrolled SQL oracle depends on): compare round 1 and 2
    # against a driver-side simulation of the same synchronous update
    import random

    from phageclouds_graphdatabase_spark.operators import graph as G

    rng = random.Random(3)
    rows = sorted({tuple(sorted(rng.sample(range(20), 2))) for _ in range(50)})
    adj: dict = {}
    for a, b in rows:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def h_index(vals):
        s = sorted(vals, reverse=True)
        return max(min(i + 1, v) for i, v in enumerate(s))

    h = {v: len(ns) for v, ns in adj.items()}
    e = spark.createDataFrame(rows, "src int, dst int")
    for rounds in (1, 2):
        h = {v: h_index([h[u] for u in adj[v]]) for v in adj}
        got = sorted(
            (r.id, r.core)
            for r in G.core_decomposition(e, rounds=rounds).collect()
        )
        assert got == sorted(h.items()), rounds


def test_multi_source_bfs_levels_hand_derived(spark, shares_dna):
    # roots {C1, B3}, undirected, t=0.25, k=3.
    # C1: A1@1; A2,A3@2 (A3 also via A1 direct — min d wins).
    # B3: B2@1; B1@2 (B1-A3 edge 0.40 is over the threshold).
    roots = seed_df(spark, "C1", "B3")
    got = {
        (r.root, r.id, r.d)
        for r in G.multi_source_bfs_levels(
            roots, shares_dna, k=3, threshold=0.25, directed=False
        ).collect()
    }
    assert got == {
        ("C1", "A1", 1), ("C1", "A2", 2), ("C1", "A3", 2),
        ("B3", "B2", 1), ("B3", "B1", 2),
    }


def test_multi_source_bfs_roots_independent(spark, shares_dna):
    # per-root state: A1 is root AND reached by C1 — both must appear,
    # and A1's own row (d=0) must not
    roots = seed_df(spark, "A1", "C1")
    rows = G.multi_source_bfs_levels(
        roots, shares_dna, k=1, threshold=0.25, directed=True
    ).collect()
    got = {(r.root, r.id, r.d) for r in rows}
    assert ("C1", "A1", 1) in got
    assert ("A1", "A2", 1) in got and ("A1", "A3", 1) in got
    assert all(r.d > 0 for r in rows)


def test_bfs_sigma_counts_shortest_paths(spark):
    # diamond A-B-D / A-C-D: two shortest A->D paths (sigma 2), one to
    # each midpoint; path extension A-B-D-E gives sigma(E)=2 at d=3
    e = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("B", "D"), ("C", "D"), ("D", "E")],
        "src string, dst string",
    )
    roots = spark.createDataFrame([("A",)], "id string")
    got = {
        (r.root, r.id): (r.d, r.sigma)
        for r in G.bfs_sigma(roots, e, 3, directed=False).collect()
    }
    assert got == {
        ("A", "B"): (1, 1),
        ("A", "C"): (1, 1),
        ("A", "D"): (2, 2),
        ("A", "E"): (3, 2),
    }


def test_stress_centrality_hand_computed(spark):
    # diamond + tail: pairs within the {A, D, E} sample —
    #   (A,D) d=2 via B and C: stress(B) += 1, stress(C) += 1
    #   (A,E) d=3 via B,C (1 path each) and D (2 paths): B+1, C+1, D+2
    #   (D,E) d=1: no interior node
    e = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("B", "D"), ("C", "D"), ("D", "E")],
        "src string, dst string",
    )
    roots = spark.createDataFrame([("A",), ("D",), ("E",)], "id string")
    got = {
        r.id: r.stress
        for r in G.stress_centrality_sampled(e, roots, max_depth=3).collect()
    }
    assert got == {"B": 2, "C": 2, "D": 2}


def test_sample_roots_avoids_dense_core(spark):
    # K5 clique (degree 4 each) + a 20-node path (degree <= 2): with the
    # default 0.90 quantile cut the clique sits above the threshold, so
    # NO sampled root lands inside it — the code form of SCALE.md's
    # "sample roots outside dense cores" (VERDICT r4 weak mark)
    clique = ["K%d" % i for i in range(5)]
    path = ["P%02d" % i for i in range(20)]
    edges = [(a, b) for i, a in enumerate(clique) for b in clique[i + 1:]]
    edges += list(zip(path, path[1:]))
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {r.id for r in G.sample_roots(e, 10).collect()}
    assert len(got) == 10
    assert got.isdisjoint(set(clique))
    # deterministic: a second call returns the identical sample
    again = {r.id for r in G.sample_roots(e, 10).collect()}
    assert got == again


def test_sample_roots_uniform_graph_falls_back_to_hash_order(spark):
    # all-equal degrees: every node clears the quantile, the sample is
    # the hash-ordered first n (the documented degenerate case)
    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D"), ("D", "A")],
        "src string, dst string",
    )
    got = {r.id for r in G.sample_roots(e, 3).collect()}
    assert len(got) == 3 and got < {"A", "B", "C", "D"}


def test_stress_betweenness_directed_hand_computed(spark):
    # round 6 (clears the ADVICE-r4 fail-fast): A→B→C, A→D, D→C with the
    # ordered sample {A, C}. Only (s=A, t=C) is a valid ordered pair
    # (d=2, sigma_st=2; C reaches nothing). Midpoints: B (1+1=2) and D
    # (1+1=2), each with sigma(A→v)=1 and — from the REVERSED-edge BFS —
    # sigma(v→C)=1. Stress 1 each; betweenness (1·1·1e6) div 2 = 500000.
    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("A", "D"), ("D", "C")],
        "src string, dst string",
    )
    roots = spark.createDataFrame([("A",), ("C",)], "id string")
    stress = {
        r.id: r.stress
        for r in G.stress_centrality_sampled(
            e, roots, max_depth=3, directed=True
        ).collect()
    }
    assert stress == {"B": 1, "D": 1}
    bc = {
        r.id: r.bc_scaled
        for r in G.betweenness_centrality_scaled(
            e, roots, max_depth=3, directed=True
        ).collect()
    }
    assert bc == {"B": 500_000, "D": 500_000}


def test_stress_betweenness_directed_matches_bruteforce(spark):
    # differential vs driver-side directed Brandes over ORDERED sampled
    # pairs: forward sigma from s, v→t sigma from a forward BFS rooted at
    # every v (n is tiny), both hop-bounded at 3 like the operator's two
    # sigma-BFS legs
    import random
    from collections import deque

    rng = random.Random(29)
    n = 15
    edges = sorted({
        (a, b)
        for a, b in (rng.sample(range(n), 2) for _ in range(45))
    })
    adj: dict = {}
    for x, y in edges:
        adj.setdefault(x, set()).add(y)

    def bfs(s):
        d, sig = {s: 0}, {s: 1}
        q = deque([s])
        while q:
            u = q.popleft()
            for w in adj.get(u, ()):
                if w not in d:
                    d[w] = d[u] + 1
                    sig[w] = 0
                    q.append(w)
                if d[w] == d[u] + 1:
                    sig[w] += sig[u]
        return d, sig

    info = {v: bfs(v) for v in range(n)}
    sample = [0, 3, 6, 9, 12]
    want_stress: dict = {}
    want_bc: dict = {}
    for s in sample:
        for t in sample:
            if s == t:
                continue
            ds, ss = info[s]
            if t not in ds or not 1 <= ds[t] <= 3:
                continue
            for v in ds:
                if v in (s, t):
                    continue
                dv, sv = info[v]
                if t not in dv:
                    continue
                if (
                    ds[v] + dv[t] == ds[t]
                    and 1 <= ds[v] <= 3
                    and 1 <= dv[t] <= 3
                ):
                    term = ss[v] * sv[t]
                    want_stress[v] = want_stress.get(v, 0) + term
                    want_bc[v] = want_bc.get(v, 0) + (
                        term * 1_000_000
                    ) // ss[t]

    e = spark.createDataFrame(edges, "src int, dst int")
    roots = spark.createDataFrame([(s,) for s in sample], "id int")
    got_stress = {
        r.id: r.stress
        for r in G.stress_centrality_sampled(
            e, roots, max_depth=3, directed=True
        ).collect()
    }
    assert got_stress == want_stress
    got_bc = {
        r.id: r.bc_scaled
        for r in G.betweenness_centrality_scaled(
            e, roots, max_depth=3, directed=True
        ).collect()
    }
    assert got_bc == want_bc


def test_stress_matches_bruteforce(spark):
    # differential vs a driver-side all-shortest-paths count on a random
    # graph, pairs restricted to the sample and the hop bound
    import random
    from collections import deque

    rng = random.Random(7)
    n = 18
    edges = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(40)})
    adj: dict = {}
    for x, y in edges:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)

    def bfs(s):
        d, sig = {s: 0}, {s: 1}
        q = deque([s])
        while q:
            u = q.popleft()
            for w in adj.get(u, ()):
                if w not in d:
                    d[w] = d[u] + 1
                    sig[w] = 0
                    q.append(w)
                if d[w] == d[u] + 1:
                    sig[w] += sig[u]
        return d, sig

    sample = [0, 3, 6, 9, 12]
    info = {s: bfs(s) for s in sample}
    want: dict = {}
    for i, s in enumerate(sample):
        for t in sample[i + 1:]:
            ds, ss = info[s]
            dt, st = info[t]
            if t not in ds or ds[t] > 3:
                continue
            for v in ds:
                if v in (s, t) or v not in dt:
                    continue
                if ds[v] + dt[v] == ds[t] and 1 <= ds[v] <= 3 and dt[v] <= 3:
                    want[v] = want.get(v, 0) + ss[v] * st[v]

    e = spark.createDataFrame(edges, "src int, dst int")
    roots = spark.createDataFrame([(s,) for s in sample], "id int")
    got = {
        r.id: r.stress
        for r in G.stress_centrality_sampled(e, roots, max_depth=3).collect()
    }
    assert got == want


def test_betweenness_scaled_hand_computed(spark):
    # diamond + tail, sample {A, D, E}, scale 1e6:
    #   (A,D) d=2 sigma_st=2: B and C each (1*1*1e6) div 2 = 500_000
    #   (A,E) d=3 sigma_st=2: B,C each 500_000; D (2*1*1e6) div 2 = 1e6
    #   (D,E) d=1: no interior
    e = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("B", "D"), ("C", "D"), ("D", "E")],
        "src string, dst string",
    )
    roots = spark.createDataFrame([("A",), ("D",), ("E",)], "id string")
    got = {
        r.id: r.bc_scaled
        for r in G.betweenness_centrality_scaled(
            e, roots, max_depth=3
        ).collect()
    }
    assert got == {"B": 1_000_000, "C": 1_000_000, "D": 1_000_000}


def test_betweenness_scaled_matches_bruteforce(spark):
    # differential vs driver-side Brandes with the same floor-per-term
    # fixed-point rule, sampled pairs, hop bound 3
    import random
    from collections import deque

    rng = random.Random(13)
    n = 16
    edges = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(36)})
    adj: dict = {}
    for x, y in edges:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)

    def bfs(s):
        d, sig = {s: 0}, {s: 1}
        q = deque([s])
        while q:
            u = q.popleft()
            for w in adj.get(u, ()):
                if w not in d:
                    d[w] = d[u] + 1
                    sig[w] = 0
                    q.append(w)
                if d[w] == d[u] + 1:
                    sig[w] += sig[u]
        return d, sig

    sample = [0, 2, 5, 8, 11]
    info = {s: bfs(s) for s in sample}
    want: dict = {}
    for i, s in enumerate(sample):
        for t in sample[i + 1:]:
            ds, ss = info[s]
            dt, st = info[t]
            if t not in ds or ds[t] > 3:
                continue
            for v in ds:
                if v in (s, t) or v not in dt:
                    continue
                if ds[v] + dt[v] == ds[t] and 1 <= ds[v] <= 3 and dt[v] <= 3:
                    want[v] = want.get(v, 0) + (
                        ss[v] * st[v] * 1_000_000
                    ) // ss[t]

    e = spark.createDataFrame(edges, "src int, dst int")
    roots = spark.createDataFrame([(s,) for s in sample], "id int")
    got = {
        r.id: r.bc_scaled
        for r in G.betweenness_centrality_scaled(
            e, roots, max_depth=3
        ).collect()
    }
    assert got == want


def test_katz_centrality_hand_computed(spark, shares_dna):
    """2-iteration integer Katz on the t<=0.25 fixture graph (scale 1e6,
    alpha = 1/8), every value hand-derived: x_{t+1} = 1e6 +
    (sum of in-neighbor x_t) div 8, no degree normalization."""
    got = {
        r.id: r.katz_scaled
        for r in G.katz_centrality_scaled(
            shares_dna.filter(F.col("distance") <= 0.25), iterations=2
        ).collect()
    }
    assert got == {
        "A2": 1_140_625,  # in {A1}: A1's iter-1 1,125,000 // 8
        "A3": 1_281_250,  # in {A1, A2}: 2,250,000 // 8
        "B2": 1_250_000,  # in {B1, B3}: both still 1e6
        "A1": 1_125_000,  # in {C1}
        "D2": 1_125_000,
        "F2": 1_125_000,
        "B1": 1_000_000, "B3": 1_000_000, "C1": 1_000_000,
        "D1": 1_000_000, "F1": 1_000_000,
    }


def test_community_quality_hand_computed(spark):
    # two triangles joined by a bridge C-D, communities = the triangles.
    # m = 7; per community: e_c = 3, cut_c = 1, d_c = 2+2+3 = 7.
    # modularity = (4*7*3 - 49)/(4*49) = 35/196; conductance = 1/min(7,7)
    from phageclouds_graphdatabase_spark.operators import graph as G

    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("A", "C"),
         ("D", "E"), ("E", "F"), ("D", "F"), ("C", "D")],
        "src string, dst string",
    )
    asg = spark.createDataFrame(
        [("A", "t1"), ("B", "t1"), ("C", "t1"),
         ("D", "t2"), ("E", "t2"), ("F", "t2")],
        "id string, label string",
    )
    got = {
        r.community: (
            r.intra_edges, r.cut_edges, r.degree_sum,
            r.modularity, r.conductance,
        )
        for r in G.community_quality(e, asg).collect()
    }
    assert got == {
        "t1": (3, 1, 7, 35 / 196, 1 / 7),
        "t2": (3, 1, 7, 35 / 196, 1 / 7),
    }
    # whole graph as one community: modularity = (4*7*7 - 196)/196 = 0;
    # conductance denominator 0 -> defined 0.0
    one = spark.createDataFrame(
        [(n, "all") for n in "ABCDEF"], "id string, label string"
    )
    row = G.community_quality(e, one).collect()[0]
    assert (row.intra_edges, row.cut_edges, row.degree_sum) == (7, 0, 14)
    assert row.modularity == 0.0 and row.conductance == 0.0


def test_article_rank_hand_computed(spark):
    # A->B, A->C, B->C: |E|=3, |V|=3 -> avg_od = 1; od(A)=2, od(B)=1.
    # iter1: c(B) = 1e6 div 3 = 333333; c(C) = 333333 + 1e6 div 2 = 833333
    #   -> B = 150000 + (85*333333)//100 = 433333; C = 858333; A = 150000
    # iter2: from A: 150000 div 3 = 50000; from B: 433333 div 2 = 216666
    #   -> B = 150000 + (85*50000)//100 = 192500
    #   -> C = 150000 + (85*266666)//100 = 376666
    from phageclouds_graphdatabase_spark.operators import graph as G

    e = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("B", "C")], "src string, dst string"
    )
    got = {
        r.id: r.ar_scaled
        for r in G.article_rank_scaled(e, iterations=2).collect()
    }
    assert got == {"A": 150_000, "B": 192_500, "C": 376_666}


def test_eigenvector_hand_computed(spark):
    # same triangle-free digraph, 2 unnormalized power steps: score =
    # 1e6 x (number of length-2 walks ending at the node) — only A->B->C
    from phageclouds_graphdatabase_spark.operators import graph as G

    e = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("B", "C")], "src string, dst string"
    )
    got = {
        r.id: r.eig_scaled
        for r in G.eigenvector_scaled(e, iterations=2).collect()
    }
    assert got == {"A": 0, "B": 0, "C": 1_000_000}


def test_personalized_pagerank_hand_computed(spark, shares_dna):
    # seeds {A1}; t=0.25 directed graph: A1->{A2,A3}, A2->A3, C1->A1,
    # B1->B2, B3->B2 (B-side unreachable from A1 -> score 0)
    seeds = seed_df(spark, "A1")
    e = shares_dna.filter(F.col("distance") <= 0.25)
    pr = {
        r.id: r.pr_scaled
        for r in G.personalized_pagerank_scaled(e, seeds, iterations=1).collect()
    }
    # init: A1=1e6, rest 0. od(A1)=2. iter1:
    # A1: seed base 150000 + 0 incoming = 150000
    # A2: 85*(1000000 div 2) div 100 = 425000
    # A3: same single contribution from A1 (A2 had score 0) = 425000
    assert pr["A1"] == 150_000
    assert pr["A2"] == 425_000 and pr["A3"] == 425_000
    # non-seeds with no reachable mass stay at exactly 0 (no base term)
    assert pr["B2"] == 0 and pr["C1"] == 0


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


def test_hits_two_iterations_by_hand(spark):
    # star: p1 -> {s1, s2}; p2 -> s1
    e = _edges(spark, [("p1", "s1"), ("p1", "s2"), ("p2", "s1")])
    got = {r.id: (r.auth, r.hub) for r in G.hits_scores(e, 1).collect()}
    # iteration 1: auth = in-degree (hub0 = 1); hub = sum of new auths
    assert got == {
        "p1": (0, 3), "p2": (0, 2), "s1": (2, 0), "s2": (1, 0),
    }
    got2 = {r.id: (r.auth, r.hub) for r in G.hits_scores(e, 2).collect()}
    # iteration 2: auth(s1) = hub(p1)+hub(p2) = 5, auth(s2) = hub(p1) = 3;
    # hub(p1) = 5+3 = 8, hub(p2) = 5
    assert got2 == {
        "p1": (0, 8), "p2": (0, 5), "s1": (5, 0), "s2": (3, 0),
    }


def test_hits_normalized_unit_l2(spark):
    e = _edges(spark, [("p1", "s1"), ("p1", "s2"), ("p2", "s1")])
    rows = G.hits_scores(e, 2, normalized=True).collect()
    ssa = sum(r.auth ** 2 for r in rows)
    ssh = sum(r.hub ** 2 for r in rows)
    assert ssa == pytest.approx(1.0) and ssh == pytest.approx(1.0)
    # direction preserved: auth(s1)/auth(s2) == 5/3
    byid = {r.id: r for r in rows}
    assert byid["s1"].auth / byid["s2"].auth == pytest.approx(5 / 3)


def test_hits_iterations_bound(spark):
    e = _edges(spark, [("a", "b")])
    with pytest.raises(ValueError):
        G.hits_scores(e, 0)
    with pytest.raises(ValueError):
        G.hits_scores(e, 9)


def test_fastrp_embeddings_shape_and_determinism(spark, shares_dna):
    e = shares_dna.filter(F.col("distance") <= 0.25)
    emb1 = {r.id: r.emb for r in G.fastrp_embeddings(e, dims=4, iters=2).collect()}
    emb2 = {r.id: r.emb for r in G.fastrp_embeddings(e, dims=4, iters=2).collect()}
    assert emb1 == emb2                       # bit-identical across runs
    assert all(len(v) == 4 for v in emb1.values())
    # neighbors of the same structure must differ (hash init is per-node)
    assert emb1["A1"] != emb1["A2"]
    # every reachable node is embedded (ids appearing in the edge set)
    assert {"A1", "A2", "A3", "B1", "B2", "B3"} <= set(emb1)


def test_node_similarity_capped_exact_values_and_recall_trade(spark):
    # H is a hub neighbor (df 4 > cap 2): pairs sharing ONLY H are never
    # generated (the documented recall trade); pairs with any cool shared
    # neighbor survive, and their inter/jaccard come from the FULL edge
    # set — H still counts in the verified intersection
    e = spark.createDataFrame(
        [("a", "H"), ("b", "H"), ("c", "H"), ("d", "H"),
         ("a", "n1"), ("b", "n1"), ("a", "n2"), ("c", "n2")],
        "src string, dst string",
    )
    got = {
        (r.a, r.b): (r.inter, r.jaccard)
        for r in G.node_similarity_topk_capped(e, k=10, freq_cap=2).collect()
    }
    # (a,b) share {H, n1}: candidate via n1, verified inter = 2 (H counts)
    assert got[("a", "b")] == (2, 2.0 / (3 + 2 - 2))
    # (b,c) share only H -> never generated
    assert ("b", "c") not in got and ("c", "b") not in got
    # (b,d)/(c,d) share only H too; d has no cool neighbor at all
    assert not any("d" in pair for pair in got)


def test_node_similarity_upper_degree_cutoff_excludes_hubs(spark):
    # a mega-hub source (out-degree 5 > cutoff 3) is excluded from pair
    # membership entirely — the verification-join bound (SCALE.md skew
    # rehearsal: dst-cap alone spilled disk to death through hub members)
    e = spark.createDataFrame(
        [("hub", f"n{i}") for i in range(5)]
        + [("a", "n0"), ("a", "n1"), ("b", "n0"), ("b", "n2")],
        "src string, dst string",
    )
    got = {
        (r.a, r.b): (r.inter, r.union_sz)
        for r in G.node_similarity_topk_capped(
            e, k=10, upper_degree_cutoff=3
        ).collect()
    }
    assert not any("hub" in pair for pair in got)
    # surviving pair keeps exact values over its FULL neighbor lists
    assert got[("a", "b")] == (1, 3)
    # without the cutoff the hub ranks (scores ~0 but present)
    allp = {
        (r.a, r.b)
        for r in G.node_similarity_topk_capped(e, k=10, freq_cap=100).collect()
    }
    assert any("hub" in pair for pair in allp)


def test_node_similarity_capped_none_equals_uncapped(spark, shares_dna):
    e = shares_dna.select("src", "dst")
    capped = sorted(
        map(tuple, G.node_similarity_topk_capped(e, k=5).collect())
    )
    uncapped = sorted(map(tuple, G.node_similarity_topk(e, k=5).collect()))
    assert capped == uncapped and len(capped) > 0


def test_node_similarity_metrics_hand_computed(spark):
    import math

    # a:{x,y}, b:{x,z}, c:{x} — (a,b): inter 1, deg 2/2; (a,c)/(b,c):
    # inter 1, deg 2/1. overlap rewards containment (c inside a = 1.0),
    # cosine sits between, jaccard dilutes.
    e = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), ("b", "z"), ("c", "x")],
        "src string, dst string",
    )
    for metric, want_ab, want_ac in (
        ("jaccard", 1 / 3, 1 / 2),
        ("overlap", 1 / 2, 1.0),
        ("cosine", 1 / 2, 1 / math.sqrt(2)),
    ):
        got = {
            (r.a, r.b): r[metric]
            for r in G.node_similarity_topk(e, k=10, metric=metric).collect()
        }
        assert got[("a", "b")] == want_ab, metric
        assert got[("a", "c")] == want_ac, metric
    with pytest.raises(ValueError, match="metric"):
        G.node_similarity_topk(e, k=10, metric="dice")


def test_node_similarity_metric_ordering_invariant(spark):
    # for any pair: jaccard <= cosine <= overlap (min <= sqrt(da*db) <=
    # da+db-inter, since max(da,db) >= sqrt(da*db) >= min(da,db) and
    # union >= max) — a cross-metric sanity net on a random bipartite graph
    import random

    rng = random.Random(23)
    rows = sorted({
        (f"s{rng.randrange(12)}", f"d{rng.randrange(8)}") for _ in range(60)
    })
    e = spark.createDataFrame(rows, "src string, dst string")
    by_metric = {
        m: {
            (r.a, r.b): r[m]
            for r in G.node_similarity_topk(e, k=100, metric=m).collect()
        }
        for m in ("jaccard", "overlap", "cosine")
    }
    pairs = set(by_metric["jaccard"])
    assert pairs == set(by_metric["overlap"]) == set(by_metric["cosine"])
    assert len(pairs) > 0
    for p in pairs:
        j, c, o = by_metric["jaccard"][p], by_metric["cosine"][p], by_metric["overlap"][p]
        assert j <= c + 1e-12 and c <= o + 1e-12, (p, j, c, o)


def test_node_similarity_capped_metric_matches_uncapped(spark, shares_dna):
    # the capped path's verification is metric-independent; with a
    # never-hot cap every metric must equal its uncapped twin
    e = shares_dna.select("src", "dst")
    for metric in ("overlap", "cosine"):
        capped = sorted(
            map(
                tuple,
                G.node_similarity_topk_capped(
                    e, k=5, freq_cap=10_000, metric=metric
                ).collect(),
            )
        )
        uncapped = sorted(
            map(tuple, G.node_similarity_topk(e, k=5, metric=metric).collect())
        )
        assert capped == uncapped and len(capped) > 0, metric


def test_node_similarity_dedupes_parallel_edges(spark):
    # ADVICE r5: the catalog supports parallel edges; without the distinct
    # both intersection and degree count them twice (multiset Jaccard).
    # GDS semantics are neighbor SETS — a tripled edge must change nothing.
    simple = [("a", "x"), ("a", "y"), ("b", "x"), ("b", "z")]
    multi = simple + [("a", "x"), ("a", "x"), ("b", "z")]
    es = spark.createDataFrame(simple, "src string, dst string")
    em = spark.createDataFrame(multi, "src string, dst string")
    want = sorted(map(tuple, G.node_similarity_topk(es, k=5).collect()))
    assert sorted(map(tuple, G.node_similarity_topk(em, k=5).collect())) == want
    assert (
        sorted(
            map(
                tuple,
                G.node_similarity_topk_capped(em, k=5, freq_cap=100).collect(),
            )
        )
        == want
    )
    # the exact values on the simple graph: (a,b) share {x}, deg 2 each
    got = {(r.a, r.b): (r.inter, r.union_sz) for r in
           G.node_similarity_topk(em, k=5).collect()}
    assert got[("a", "b")] == (1, 3)


def test_node_similarity_auto_gate_unskewed_delegates(spark, shares_dna):
    # VERDICT r5 "What's wrong" #2: on an unskewed graph (max_df <= 4x
    # median_df) the auto gate must choose the uncapped single pass —
    # value-identical to both the explicit never-hot cap and the plain
    # uncapped operator
    e = shares_dna.select("src", "dst")
    auto = sorted(
        map(
            tuple,
            G.node_similarity_topk_capped(
                e, k=5, freq_cap="auto", upper_degree_cutoff=10_000
            ).collect(),
        )
    )
    uncapped = sorted(map(tuple, G.node_similarity_topk(e, k=5).collect()))
    assert auto == uncapped and len(auto) > 0


def test_node_similarity_auto_gate_skewed_engages_cap(spark):
    # one hub neighbor shared by everyone (df 12) over a median df of 1:
    # the gate must engage (12 > 4x1) with cap (9*12)//10 = 10, so
    # hub-only pairs are never generated — identical to the explicit cap
    rows = [(f"s{i}", "HUB") for i in range(12)]
    rows += [("s0", "n1"), ("s1", "n1")]  # one cool shared neighbor
    rows += [(f"s{i}", f"u{i}") for i in range(10)]  # df-1 fillers
    e = spark.createDataFrame(rows, "src string, dst string")
    auto = sorted(
        map(
            tuple,
            G.node_similarity_topk_capped(e, k=10, freq_cap="auto").collect(),
        )
    )
    explicit = sorted(
        map(
            tuple,
            G.node_similarity_topk_capped(e, k=10, freq_cap=10).collect(),
        )
    )
    assert auto == explicit
    # only the (s0, s1) pair has a cool shared neighbor
    assert {(t[0], t[1]) for t in auto} == {("s0", "s1"), ("s1", "s0")}


def test_fastrp_packed_matches_exploded(spark, shares_dna):
    # the round-5 packed-vector iteration must be BIT-IDENTICAL to the
    # exploded (id, dim, val) twin it replaces (VERDICT r4 ask #5) —
    # same md5 init, same per-slot integer sums, same truncating div —
    # across dims/iters/weights variations and both directedness modes
    e = shares_dna.filter(F.col("distance") <= 0.25)
    for kw in (
        dict(dims=4, iters=2),
        dict(dims=3, iters=3, weights=(2, 1, 3)),
        dict(dims=2, iters=1, weights=(5,), directed=True),
    ):
        packed = {r.id: r.emb for r in G.fastrp_embeddings(e, **kw).collect()}
        exploded = {
            r.id: r.emb
            for r in G.fastrp_embeddings_exploded(e, **kw).collect()
        }
        assert packed == exploded and len(packed) > 0


# --------------------------------------------------------------------------
# k-truss (operators/graph.py k_truss): triangle-support peeling
# --------------------------------------------------------------------------


def _truss_rows(df):
    return sorted((r.a, r.b, r.support) for r in df.collect())


def test_k_truss_cascade_two_triangles(spark):
    # two triangles sharing edge (2,3): that edge has support 2, the other
    # four support 1. k=4 removes the four in round 1, which destroys both
    # triangles, so (2,3) drops to support 0 and is removed in round 2 —
    # the cascade the fixpoint loop must follow.
    from phageclouds_graphdatabase_spark.operators import graph as G

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], "src int, dst int"
    )
    # rounds=1 stops after the first peel: only (2,3) survives, support 2
    assert _truss_rows(G.k_truss(e, 4, rounds=1)) == [(2, 3, 2)]
    # round 2 (and the fixpoint) remove it
    assert G.k_truss(e, 4, rounds=2).count() == 0
    assert G.k_truss(e, 4).count() == 0
    # k=3 keeps everything (every edge closes >= 1 triangle)
    assert len(_truss_rows(G.k_truss(e, 3))) == 5


def test_k_truss_branch_log_records_crossover(spark):
    # with the cap forced to 1 edge, round 1 (5 live edges) takes the
    # shuffle-hash branch and round 2 (1 survivor) switches BACK to
    # broadcast — the gate's crossover, observable via branch_log, with
    # output identical to the default-cap run
    from phageclouds_graphdatabase_spark.operators import graph as G

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], "src int, dst int"
    )
    blog = []
    out = G.k_truss(e, 4, rounds=2, hash_broadcast_cap_edges=1,
                    branch_log=blog)
    assert out.count() == 0
    assert [(b["round"], b["branch"]) for b in blog] == [
        (1, "shuffle_hash"), (2, "broadcast"),
    ]
    assert blog[0]["live_edges"] == 5 and blog[1]["live_edges"] == 1


def test_k_truss_k5_on_k5_clique(spark):
    # K5: every edge closes exactly 3 triangles -> the whole clique is a
    # 5-truss; k=6 (support >= 4) empties it
    from itertools import combinations

    from phageclouds_graphdatabase_spark.operators import graph as G

    e = spark.createDataFrame(
        list(combinations(range(5), 2)), "src int, dst int"
    )
    got = _truss_rows(G.k_truss(e, 5))
    assert len(got) == 10 and all(s == 3 for _, _, s in got)
    assert G.k_truss(e, 6).count() == 0


def test_k_truss_canonicalizes_and_dedups_input(spark):
    # reversed duplicates and self-loops in the input collapse to one
    # canonical edge each before peeling
    from phageclouds_graphdatabase_spark.operators import graph as G

    e = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (1, 1)],
        "src int, dst int",
    )
    assert _truss_rows(G.k_truss(e, 3)) == [(1, 2, 1), (1, 3, 1), (2, 3, 1)]


def test_k_truss_shuffle_hash_fallback_identical(spark):
    # forcing the above-cap branch (hash_broadcast_cap_edges=1) must give
    # bit-identical results to the broadcast-prefilter branch, through the
    # full fixpoint cascade
    from itertools import combinations

    from phageclouds_graphdatabase_spark.operators import graph as G

    cascade = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], "src int, dst int"
    )
    k5 = spark.createDataFrame(
        list(combinations(range(5), 2)), "src int, dst int"
    )
    for e, k in [(cascade, 3), (cascade, 4), (k5, 5)]:
        want = _truss_rows(G.k_truss(e, k))
        got = _truss_rows(G.k_truss(e, k, hash_broadcast_cap_edges=1))
        assert got == want


def test_k_truss_rejects_k_below_3(spark):
    import pytest

    from phageclouds_graphdatabase_spark.operators import graph as G

    e = spark.createDataFrame([(1, 2)], "src int, dst int")
    with pytest.raises(ValueError, match="k >= 3"):
        G.k_truss(e, 2)


def test_k_truss_inside_k_minus_1_core(spark):
    # containment property: every edge of the k-truss joins two nodes of
    # the (k-1)-core — checked on a random graph
    import random

    from phageclouds_graphdatabase_spark.operators import graph as G

    rng = random.Random(7)
    edges = list({
        tuple(sorted(rng.sample(range(30), 2))) for _ in range(120)
    })
    e = spark.createDataFrame(edges, "src int, dst int")
    truss_nodes = set()
    for r in G.k_truss(e, 4).collect():
        truss_nodes.update((r.a, r.b))
    core_nodes = {r.id for r in G.k_core(e, 3).collect()}
    assert truss_nodes <= core_nodes


def test_k_truss_matches_bruteforce_peel(spark):
    # differential: the distributed peel equals a driver-side reference
    # implementation (set-based peeling) on random graphs
    import random

    from phageclouds_graphdatabase_spark.operators import graph as G

    def brute_truss(edge_set, k):
        live = set(edge_set)
        while True:
            sup = {e: 0 for e in live}
            nodes = {n for e in live for n in e}
            adj = {n: set() for n in nodes}
            for a, b in live:
                adj[a].add(b)
                adj[b].add(a)
            for a, b in live:
                sup[(a, b)] = len(adj[a] & adj[b])
            nxt = {e for e in live if sup[e] >= k - 2}
            if nxt == live:
                return {(a, b, sup[(a, b)]) for a, b in live}
            live = nxt

    for seed in (3, 11):
        rng = random.Random(seed)
        edges = list({
            tuple(sorted(rng.sample(range(24), 2))) for _ in range(90)
        })
        e = spark.createDataFrame(edges, "src int, dst int")
        for k in (3, 4, 5):
            got = set(_truss_rows(G.k_truss(e, k)))
            want = brute_truss(edges, k)
            assert got == want, (seed, k)


def _brute_truss_rounds(edge_set, k, budget=None):
    """Driver-side reference peel with the operator's rounds semantics:
    ``budget=r`` returns the edges kept by the r-th peel with the support
    measured IN that round; ``None`` runs to the fixpoint."""
    live = set(edge_set)
    r = 0
    while True:
        adj: dict = {}
        for a, b in live:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {(a, b): len(adj[a] & adj[b]) for a, b in live}
        nxt = {t for t in live if sup[t] >= k - 2}
        r += 1
        if budget is not None and r >= budget:
            return {(a, b, sup[(a, b)]) for a, b in nxt}, r
        if nxt == live:
            return {(a, b, sup[(a, b)]) for a, b in live}, r
        live = nxt


def test_k_truss_deep_cascade_differential(spark, tmp_path):
    """Round-4 (r3 VERDICT ask #3): the hand graphs only cascade 2 peels
    deep — these seeds are mined for GENUINELY deep cascades with
    nonempty fixpoints (the final supports must match too, not just
    emptiness): seed 197040 peels 18 rounds to a 42-edge 5-truss, seed
    13060 peels 10 rounds to a 70-edge 4-truss. One runs with RELIABLE
    checkpoints, exercising the per-round checkpoint chain at depth as a
    cluster run would."""
    import random

    from phageclouds_graphdatabase_spark.operators import graph as G

    cases = [
        # (seed, n_vertices, n_draws, k, brute_rounds, reliable)
        (197040, 40, 260, 5, 18, True),
        (13060, 60, 300, 4, 10, False),
    ]
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    for seed, n, m, k, depth, reliable in cases:
        rng = random.Random(seed)
        edges = list({
            tuple(sorted(rng.sample(range(n), 2))) for _ in range(m)
        })
        want, rounds_taken = _brute_truss_rounds(edges, k)
        assert rounds_taken >= depth, (seed, rounds_taken)  # still deep
        assert len(want) > 0, seed  # nonempty fixpoint
        e = spark.createDataFrame(edges, "src int, dst int")
        got = set(_truss_rows(
            G.k_truss(e, k, reliable_checkpoint=reliable)
        ))
        assert got == want, (seed, k)
        # a mid-cascade rounds budget must match the brute peel at the
        # same depth (guards the budget semantics, not just the fixpoint)
        want_mid, _ = _brute_truss_rounds(edges, k, budget=4)
        got_mid = set(_truss_rows(G.k_truss(e, k, rounds=4)))
        assert got_mid == want_mid, (seed, k)


def test_hindex_histogram_matches_bruteforce(spark):
    # the histogram H-index (round 7: hub-safe replacement for the
    # per-row rank window) must equal the classic sorted-rank H-index on
    # adversarial multisets: heavy ties, hub-sized lists, singletons
    import random

    from phageclouds_graphdatabase_spark.operators import graph as G

    def brute(vals):
        s = sorted(vals, reverse=True)
        return max(min(i + 1, v) for i, v in enumerate(s))

    rng = random.Random(23)
    cases = {
        "ties": [5, 5, 5],
        "hub": [1] * 400 + [7, 7, 3],
        "single": [9],
        "ones": [1, 1, 1, 1],
        "gap": [10, 2],
    }
    for t in range(6):
        cases[f"rng{t}"] = [rng.randrange(1, 12) for _ in range(rng.randrange(1, 60))]
    rows = [(k, v) for k, vs in cases.items() for v in vs]
    nv = spark.createDataFrame(rows, "id string, nv long")
    got = {r.id: r.core for r in G._hindex_histogram(nv).collect()}
    assert got == {k: brute(vs) for k, vs in cases.items()}


def test_community_quality_partial_assignment_consistent(spark):
    # ADVICE r6: with a PARTIAL assignment (user communityProperty with
    # missing labels) all three aggregates must be computed over the same
    # edge set — edges with both endpoints assigned — so
    # degree_sum = 2*intra + cut holds by construction. Triangle {A,B,C}
    # in t1 plus edges C-D, D-E where D,E are unassigned: the t1 row must
    # see only the triangle (D-edges excluded from degrees too).
    from phageclouds_graphdatabase_spark.operators import graph as G

    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("A", "C"), ("C", "D"), ("D", "E")],
        "src string, dst string",
    )
    part = spark.createDataFrame(
        [("A", "t1"), ("B", "t1"), ("C", "t1")], "id string, label string"
    )
    rows = G.community_quality(e, part).collect()
    assert len(rows) == 1
    r = rows[0]
    # m = 5 (full canonical set), e_c = 3, cut = 0, d_c = 2*3 + 0 = 6
    assert (r.community, r.intra_edges, r.cut_edges, r.degree_sum) == (
        "t1", 3, 0, 6,
    )
    assert r.degree_sum == 2 * r.intra_edges + r.cut_edges
    assert r.modularity == (4 * 5 * 3 - 36) / (4 * 25)
    assert r.conductance == 0.0


def test_closeness_centrality_hand_computed(spark):
    # path A-B-C-D, roots {A, D}, undirected, k=3:
    # A: reached by D at d=3 -> 1e6*1 div 3 = 333333
    # B: A@1, D@2 -> 2e6 div 3 = 666666 ; C symmetric
    # Wasserman-Faust (|roots|=2): A -> 1e6 div 6 = 166666, B -> 4e6 div 6
    from phageclouds_graphdatabase_spark.operators import graph as G

    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D")], "src string, dst string"
    )
    roots = spark.createDataFrame([("A",), ("D",)], "id string")
    got = {
        r.id: (r.closeness_scaled, r.n_reached, r.sum_d)
        for r in G.closeness_centrality_scaled(roots, e, k=3).collect()
    }
    assert got == {
        "A": (333333, 1, 3),
        "B": (666666, 2, 3),
        "C": (666666, 2, 3),
        "D": (333333, 1, 3),
    }
    wf = {
        r.id: r.closeness_scaled
        for r in G.closeness_centrality_scaled(
            roots, e, k=3, wasserman_faust=True
        ).collect()
    }
    assert wf == {"A": 166666, "B": 666666, "C": 666666, "D": 166666}
    # depth cap: k=1 only sees direct neighbors
    k1 = {
        r.id: (r.n_reached, r.sum_d)
        for r in G.closeness_centrality_scaled(roots, e, k=1).collect()
    }
    assert k1 == {"B": (1, 1), "C": (1, 1)}


def test_louvain_refine_matches_driver_sim(spark):
    """The bounded synchronous Louvain refinement must be round-for-round
    identical to a driver-side simulation of the same exact-integer gain
    argmax (the property the unrolled SQL oracle depends on), on random
    graphs including the oscillation-prone symmetric cases."""
    import random

    from phageclouds_graphdatabase_spark.operators import graph as G

    def simulate(adj, m, rounds):
        deg = {v: len(ns) for v, ns in adj.items()}
        lab = {v: v for v in adj}
        for _ in range(rounds):
            vol: dict = {}
            for v in adj:
                vol[lab[v]] = vol.get(lab[v], 0) + deg[v]
            new = {}
            for v in adj:
                e: dict = {}
                for u in adj[v]:
                    e[lab[u]] = e.get(lab[u], 0) + 1
                e.setdefault(lab[v], 0)
                best = None
                for c, ec in e.items():
                    own = deg[v] if c == lab[v] else 0
                    gain = 2 * m * ec - deg[v] * (vol[c] - own)
                    key = (-gain, c)
                    if best is None or key < best[0]:
                        best = (key, c)
                new[v] = best[1]
            lab = new
        return lab

    rng = random.Random(29)
    for trial in range(3):
        rows = sorted(
            {tuple(sorted(rng.sample(range(25), 2))) for _ in range(55)}
        )
        adj: dict = {}
        for a, b in rows:
            adj.setdefault(f"N{a:02d}", set()).add(f"N{b:02d}")
            adj.setdefault(f"N{b:02d}", set()).add(f"N{a:02d}")
        e = spark.createDataFrame(
            [(f"N{a:02d}", f"N{b:02d}") for a, b in rows],
            "src string, dst string",
        )
        for rounds in (1, 2, 3):
            want = simulate(adj, len(rows), rounds)
            got = {
                r.id: r.label
                for r in G.louvain_refine(e, rounds=rounds).collect()
            }
            assert got == want, (trial, rounds)


def test_louvain_refine_two_triangles(spark):
    # two triangles + bridge: after round 1 each triangle has collapsed
    # into intra-triangle communities only (no cross-bridge merges —
    # gain of joining across the bridge is dominated)
    from phageclouds_graphdatabase_spark.operators import graph as G

    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("A", "C"),
         ("D", "E"), ("E", "F"), ("D", "F"), ("C", "D")],
        "src string, dst string",
    )
    lab = {r.id: r.label for r in G.louvain_refine(e, rounds=1).collect()}
    assert set(lab) == set("ABCDEF")
    assert all(lab[v] in "ABC" for v in "ABC")
    assert all(lab[v] in "DEF" for v in "DEF")


def test_louvain_multilevel_matches_driver_sim(spark):
    """levels > 1 adds the coarsening phases; the condensed weighted
    refinement (strengths with self-loops, weighted gains) must match a
    driver-side simulation of the same exact-integer updates, mapped back
    through every condensation."""
    import random

    from phageclouds_graphdatabase_spark.operators import graph as G

    def refine(wadj, selfw, m, rounds):
        # wadj: {v: {u: w}}, selfw: {v: sw}
        k = {
            v: sum(ws.values()) + 2 * selfw.get(v, 0)
            for v, ws in wadj.items()
        }
        lab = {v: v for v in wadj}
        for _ in range(rounds):
            vol: dict = {}
            for v in wadj:
                vol[lab[v]] = vol.get(lab[v], 0) + k[v]
            new = {}
            for v in wadj:
                e: dict = {}
                for u, w in wadj[v].items():
                    e[lab[u]] = e.get(lab[u], 0) + w
                e.setdefault(lab[v], 0)
                best = None
                for c, ec in e.items():
                    own = k[v] if c == lab[v] else 0
                    gain = 2 * m * ec - k[v] * (vol[c] - own)
                    key = (-gain, c)
                    if best is None or key < best[0]:
                        best = (key, c)
                new[v] = best[1]
            lab = new
        return lab

    def simulate(rows, rounds, levels):
        m = len(rows)
        we = {tuple(sorted(e)): 1 for e in rows}
        selfw: dict = {}
        mapping = None
        for level in range(levels):
            wadj: dict = {}
            for (a, b), w in we.items():
                wadj.setdefault(a, {})[b] = wadj.setdefault(a, {}).get(b, 0) + w
                wadj.setdefault(b, {})[a] = wadj.setdefault(b, {}).get(a, 0) + w
            for v in selfw:
                wadj.setdefault(v, {})
            lab = refine(wadj, selfw, m, rounds)
            mapping = lab if mapping is None else {
                v: lab[c] for v, c in mapping.items()
            }
            nwe: dict = {}
            nsw: dict = {}
            for (a, b), w in we.items():
                ca, cb = lab[a], lab[b]
                if ca == cb:
                    nsw[ca] = nsw.get(ca, 0) + w
                else:
                    key = tuple(sorted((ca, cb)))
                    nwe[key] = nwe.get(key, 0) + w
            for v, w in selfw.items():
                nsw[lab[v]] = nsw.get(lab[v], 0) + w
            we, selfw = nwe, nsw
        return mapping

    rng = random.Random(31)
    for trial in range(2):
        rows = sorted(
            {tuple(sorted(rng.sample(range(22), 2))) for _ in range(50)}
        )
        rows = [(f"N{a:02d}", f"N{b:02d}") for a, b in rows]
        e = spark.createDataFrame(rows, "src string, dst string")
        for levels in (2, 3):
            want = simulate(rows, rounds=2, levels=levels)
            got = {
                r.id: r.label
                for r in G.louvain_refine(e, rounds=2, levels=levels).collect()
            }
            assert got == want, (trial, levels)


def test_core_decomposition_pack_ids_matches(spark):
    # pack_ids=True (round 7): the dense-long dictionary encoding around
    # the same loop must be value-identical for fixed budgets AND the
    # fixpoint, delta or full
    import random

    from phageclouds_graphdatabase_spark.operators import graph as G

    rng = random.Random(43)
    rows = sorted({tuple(sorted(rng.sample(range(40), 2))) for _ in range(90)})
    e = spark.createDataFrame(
        [(f"ACC{a:04d}", f"ACC{b:04d}") for a, b in rows],
        "src string, dst string",
    )
    for rounds in (2, None):
        plain = sorted(
            map(tuple, G.core_decomposition(e, rounds=rounds).collect())
        )
        packed = sorted(
            map(
                tuple,
                G.core_decomposition(
                    e, rounds=rounds, pack_ids=True
                ).collect(),
            )
        )
        assert plain == packed and len(plain) > 0, rounds
    d = sorted(
        map(
            tuple,
            G.core_decomposition(e, delta=True, pack_ids=True).collect(),
        )
    )
    assert d == sorted(map(tuple, G.core_decomposition(e).collect()))


# --- node-similarity decode-dictionary broadcast gate -------------------------
#
# The gate must read |ids| (all distinct nodes), not nv (out-degree
# holders): a sink-heavy graph with few sources but many nodes must NOT
# broadcast the dictionary past the cap.


def full_explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _sink_heavy_edges(spark):
    # 2 sources, 6 distinct nodes total: nv=2 (out-degree holders) but
    # |ids|=6 — the ADVICE r9 shape where nv under-counts the dictionary
    rows = [
        ("s1", "b1"), ("s1", "b2"), ("s1", "b3"),
        ("s2", "b1"), ("s2", "b2"),
    ]
    return spark.createDataFrame(rows, "src string, dst string")


def test_nodesim_decode_gate_counts_all_ids(spark, monkeypatch):
    e = _sink_heavy_edges(spark)
    # cap between nv (=2) and |ids| (=6): the decode joins must NOT
    # broadcast the dictionary (before the fix nv<=cap broadcast it)
    monkeypatch.setattr(G, "NODESIM_DEG_BROADCAST_MAX_ROWS", 3)
    low = G.node_similarity_topk(e, k=2)
    # cap above |ids|: broadcast is correct and expected
    monkeypatch.setattr(G, "NODESIM_DEG_BROADCAST_MAX_ROWS", 100)
    high = G.node_similarity_topk(e, k=2)
    n_bx_low = full_explain(low).count("BroadcastExchange")
    n_bx_high = full_explain(high).count("BroadcastExchange")
    # the two decode joins flip from shuffle to broadcast across the cap
    assert n_bx_high >= n_bx_low + 2
    # and the gate is purely physical: values identical on both sides
    key = lambda r: (r["a"], r["rnk"])  # noqa: E731
    assert sorted(map(tuple, low.collect()), key=lambda t: (t[0], t[5])) == \
        sorted(map(tuple, high.collect()), key=lambda t: (t[0], t[5]))


def test_nodesim_jvm_path_decode_gate(spark, monkeypatch):
    # vectorized=False takes the ids.count() fallback for the same gate
    e = _sink_heavy_edges(spark)
    monkeypatch.setattr(G, "NODESIM_DEG_BROADCAST_MAX_ROWS", 3)
    low = G.node_similarity_topk(e, k=2, vectorized=False)
    monkeypatch.setattr(G, "NODESIM_DEG_BROADCAST_MAX_ROWS", 100)
    high = G.node_similarity_topk(e, k=2, vectorized=False)
    assert full_explain(high).count("BroadcastExchange") >= \
        full_explain(low).count("BroadcastExchange") + 2
    assert sorted(map(tuple, low.collect())) == \
        sorted(map(tuple, high.collect()))
