"""Differential tests for the path-semantics operators: on random small
graphs, `var_length_paths` / `shortest_paths` / `cheapest_path_costs` must
match a brute-force pure-Python enumerator implementing the definitions
directly (relationship-uniqueness DFS, BFS levels, min-cost over simple
paths). Catches join/anti-join bookkeeping bugs the hand-picked fixtures
might miss. The Cypher frontend's path forms (named var-length paths,
chains, shortestPath/allShortestPaths, distinct-pair var-length) are held
to the same references, and hi = 5 cases reach the checkpointed rounds
above BFS_LAZY_K."""

from __future__ import annotations

import itertools
import random

import pytest

from phageclouds_graphdatabase_spark.operators.graph import (
    cheapest_path_costs,
    shortest_paths,
    var_length_paths,
)


def random_graph(seed: int, n_nodes: int = 8, n_edges: int = 12):
    """Deterministic random simple graph: one stored direction per pair,
    no self-loops (the data-model invariants)."""
    rng = random.Random(seed)
    names = [f"n{i}" for i in range(n_nodes)]
    pairs = list(itertools.combinations(range(n_nodes), 2))
    rng.shuffle(pairs)
    edges = []
    for a, b in pairs[:n_edges]:
        if rng.random() < 0.5:
            a, b = b, a
        edges.append((names[a], names[b], round(rng.uniform(0.0, 0.5), 2)))
    return names, edges


def ref_var_length_paths(edges, seeds, lo, hi, directed):
    """Brute-force DFS with relationship-uniqueness (a stored edge used at
    most once per path, either orientation)."""
    adj: dict = {}
    for i, (s, d, _w) in enumerate(edges):
        adj.setdefault(s, []).append((d, i))
        if not directed:
            adj.setdefault(d, []).append((s, i))
    out = []

    def dfs(path, used):
        depth = len(path) - 1
        if lo <= depth <= hi:
            out.append(tuple(path))
        if depth == hi:
            return
        for nxt, eid in adj.get(path[-1], ()):
            if eid not in used:
                dfs(path + [nxt], used | {eid})

    for s in seeds:
        dfs([s], frozenset())
    return sorted(out)


def ref_shortest(edges, seeds, max_hops, directed):
    """BFS levels; all shortest paths per (seed, node) pair."""
    adj: dict = {}
    for s, d, _w in edges:
        adj.setdefault(s, []).append(d)
        if not directed:
            adj.setdefault(d, []).append(s)
    all_paths = []
    for s in seeds:
        level = {s: 0}
        frontier = [[s]]
        for depth in range(1, max_hops + 1):
            nxt = []
            newly = {}
            for path in frontier:
                for v in adj.get(path[-1], ()):
                    if v in level and level[v] < depth:
                        continue
                    newly[v] = depth
                    nxt.append(path + [v])
            level.update(newly)
            frontier = [p for p in nxt if level[p[-1]] == depth]
            all_paths.extend(tuple(p) for p in frontier)
            if not frontier:
                break
    return sorted(all_paths)


def ref_cheapest(edges, seeds, max_hops, scale, directed):
    """Min integer cost over walks of <= max_hops edges (== over simple
    paths for non-negative weights), per (seed, node), node != seed."""
    adj: dict = {}
    for s, d, w in edges:
        iw = int(w * scale + 0.5)
        adj.setdefault(s, []).append((d, iw))
        if not directed:
            adj.setdefault(d, []).append((s, iw))
    out = {}
    for s in seeds:
        best = {s: 0}
        for _ in range(max_hops):
            new = dict(best)
            for u, c in best.items():
                for v, w in adj.get(u, ()):
                    if c + w < new.get(v, float("inf")):
                        new[v] = c + w
            best = new
        for v, c in best.items():
            if v != s:
                out[(s, v)] = c
    return out


def ref_walk_pairs(edges, seeds, lo, hi, directed):
    """Distinct (seed, node) pairs joined by a WALK of lo..hi edges (edges
    may repeat), self-pairs dropped -- the distinct-pair var-length
    semantics of the Cypher frontend."""
    adj: dict = {}
    for s, d, _w in edges:
        adj.setdefault(s, set()).add(d)
        if not directed:
            adj.setdefault(d, set()).add(s)
    out = set()
    for s in seeds:
        level = {s}
        for depth in range(1, hi + 1):
            level = {v for u in level for v in adj.get(u, ())}
            if depth >= lo:
                out.update((s, v) for v in level if v != s)
    return sorted(out)


def ref_chain_paths(edges, seeds, segments):
    """Brute-force paths through a chain of (lo, hi, directed) segments,
    relationship-unique across the WHOLE chain."""
    adj: dict = {True: {}, False: {}}
    for i, (s, d, _w) in enumerate(edges):
        adj[True].setdefault(s, []).append((d, i))
        adj[False].setdefault(s, []).append((d, i))
        adj[False].setdefault(d, []).append((s, i))
    out = []

    def walk(path, used, seg, hops):
        lo, hi, directed = segments[seg]
        if lo <= hops <= hi:
            if seg + 1 == len(segments):
                out.append(tuple(path))
            else:
                walk(path, used, seg + 1, 0)
        if hops == hi:
            return
        for nxt, eid in adj[directed].get(path[-1], ()):
            if eid not in used:
                walk(path + [nxt], used | {eid}, seg, hops + 1)

    for s in seeds:
        walk([s], frozenset(), 0, 0)
    return sorted(out)


SEEDS = [1, 7, 23, 99]


@pytest.mark.parametrize("g_seed", SEEDS)
@pytest.mark.parametrize("directed", [True, False])
def test_var_length_paths_matches_bruteforce(spark, g_seed, directed):
    names, edges = random_graph(g_seed)
    edf = spark.createDataFrame(edges, "src string, dst string, distance double")
    seeds = spark.createDataFrame([(names[0],), (names[1],)], "id string")
    got = sorted(
        tuple(r.path)
        for r in var_length_paths(seeds, edf, 1, 3, directed=directed).collect()
    )
    want = ref_var_length_paths(edges, [names[0], names[1]], 1, 3, directed)
    assert got == want


@pytest.mark.parametrize("g_seed", SEEDS)
def test_shortest_paths_all_matches_bruteforce(spark, g_seed):
    names, edges = random_graph(g_seed)
    edf = spark.createDataFrame(edges, "src string, dst string, distance double")
    seeds = spark.createDataFrame([(names[0],), (names[2],)], "id string")
    got = sorted(
        tuple(r.path)
        for r in shortest_paths(
            seeds, edf, 4, directed=False, mode="all"
        ).collect()
    )
    want = ref_shortest(edges, [names[0], names[2]], 4, directed=False)
    assert got == want


@pytest.mark.parametrize("g_seed", SEEDS)
def test_shortest_one_is_lexmin_of_all(spark, g_seed):
    names, edges = random_graph(g_seed)
    edf = spark.createDataFrame(edges, "src string, dst string, distance double")
    seeds = spark.createDataFrame([(names[0],)], "id string")
    allp = ref_shortest(edges, [names[0]], 4, directed=False)
    want = {}
    for p in allp:
        key = (p[0], p[-1])
        if key not in want or list(p) < want[key]:
            want[key] = list(p)
    got = {
        (r.src, r.dst): list(r.path)
        for r in shortest_paths(
            seeds, edf, 4, directed=False, mode="one"
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize("g_seed", SEEDS)
@pytest.mark.parametrize("directed", [True, False])
def test_cheapest_costs_match_bruteforce(spark, g_seed, directed):
    names, edges = random_graph(g_seed)
    edf = spark.createDataFrame(edges, "src string, dst string, distance double")
    seeds = spark.createDataFrame([(names[0],), (names[3],)], "id string")
    got = {
        (r.src, r.dst): r.cost
        for r in cheapest_path_costs(
            seeds, edf, 3, scale=100.0, directed=directed
        ).collect()
    }
    want = ref_cheapest(edges, [names[0], names[3]], 3, 100.0, directed)
    assert got == want


@pytest.mark.parametrize("g_seed", SEEDS)
def test_merge_components_equals_batch_recompute(spark, g_seed):
    """Incremental component maintenance must be row-identical to a batch
    recompute over old ∪ new edges, for random graphs and random splits."""
    from phageclouds_graphdatabase_spark.operators.graph import (
        connected_components,
        merge_components,
    )

    names, edges = random_graph(g_seed, n_nodes=10, n_edges=14)
    schema = "src string, dst string, distance double"
    split = len(edges) // 2
    old = spark.createDataFrame(edges[:split], schema)
    new = spark.createDataFrame(edges[split:], schema)
    inc = merge_components(connected_components(old), new)
    batch = connected_components(spark.createDataFrame(edges, schema))
    assert sorted(map(tuple, inc.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_deterministic_walks_match_md5_reference(spark):
    """Walk corpus must equal the md5-argmin reference step for step, and
    directed dead-ends must truncate walks."""
    import hashlib

    from phageclouds_graphdatabase_spark.operators.graph import (
        deterministic_walks,
    )

    schema = "src string, dst string, distance double"
    edges = [("a", "b", 0.1), ("b", "c", 0.1), ("a", "c", 0.1)]
    edf = spark.createDataFrame(edges, schema)

    def nxt(wid, step, cur, nbrs):
        return min(
            nbrs,
            key=lambda n: hashlib.md5(
                f"{wid}|{step}|{cur}|{n}".encode()
            ).hexdigest(),
        )

    adj = {"a": ["b", "c"], "b": ["a", "c"], "c": ["b", "a"]}
    want = set()
    for start in "abc":
        for wid in (0, 1):
            walk = [start]
            for s in range(1, 4):
                walk.append(nxt(wid, s, walk[-1], adj[walk[-1]]))
            want.add((start, wid, tuple(walk)))
    got = {
        (x.start, x.wid, tuple(x.walk))
        for x in deterministic_walks(edf, 3, walks_per_node=2).collect()
    }
    assert got == want

    # directed: c is a dead end -> its walk stops at length 1; a's walk
    # runs a>b>c or a>c then stops
    got_d = {
        (x.start, x.wid, tuple(x.walk))
        for x in deterministic_walks(
            edf, 3, walks_per_node=1, directed=True
        ).collect()
    }
    walks_by_start = {s: w for s, _wid, w in got_d}
    # only nodes with out-edges start walks in directed mode, and every
    # directed walk ends at the dead-end c (truncated, not extended)
    assert set(walks_by_start) == {"a", "b"}
    assert all(w[-1] == "c" for w in walks_by_start.values())


def test_var_length_paths_deep_matches_bruteforce(spark):
    """hi = 5 is above BFS_LAZY_K, so the checkpointed rounds run."""
    names, edges = random_graph(7)
    edf = spark.createDataFrame(edges, "src string, dst string, distance double")
    seeds = spark.createDataFrame([(names[0],), (names[1],)], "id string")
    got = sorted(
        tuple(r.path)
        for r in var_length_paths(seeds, edf, 2, 5, directed=False).collect()
    )
    assert got == ref_var_length_paths(edges, names[:2], 2, 5, False)


def test_shortest_paths_deep_matches_bruteforce(spark):
    names, edges = random_graph(23, n_nodes=10, n_edges=12)
    edf = spark.createDataFrame(edges, "src string, dst string, distance double")
    seeds = spark.createDataFrame([(names[0],), (names[2],)], "id string")
    got = sorted(
        tuple(r.path)
        for r in shortest_paths(seeds, edf, 5, directed=False).collect()
    )
    assert got == ref_shortest(edges, [names[0], names[2]], 5, directed=False)


# --- the same definitions through the Cypher frontend ------------------------


def cypher_engine(spark, g_seed, **kw):
    from phageclouds_graphdatabase_spark.cypher import CypherEngine, phage_catalog

    names, edges = random_graph(g_seed, **kw)
    nodes = spark.createDataFrame([(n,) for n in names], "accession string")
    edf = spark.createDataFrame(edges, "src string, dst string, distance double")
    return CypherEngine(phage_catalog(nodes, edf)), names, edges


def seeded(pattern: str, ret: str) -> str:
    return (
        "MATCH (a:PhageGenome) WHERE a.accession IN $seeds "
        f"MATCH {pattern} RETURN {ret}"
    )


def node_lists(df):
    return sorted(tuple(r.ns) for r in df.collect())


@pytest.mark.parametrize("g_seed", SEEDS[:2])
@pytest.mark.parametrize("arrow", ["->", "-"])
def test_cypher_named_var_length_matches_bruteforce(spark, g_seed, arrow):
    eng, names, edges = cypher_engine(spark, g_seed)
    q = seeded(f"p = (a)-[:sharesDNA*1..3]{arrow}(b:PhageGenome)", "nodes(p) AS ns")
    got = node_lists(eng.run(q, {"seeds": names[:2]}))
    assert got == ref_var_length_paths(edges, names[:2], 1, 3, arrow == "->")


def test_cypher_named_var_length_deep_matches_bruteforce(spark):
    eng, names, edges = cypher_engine(spark, 1)
    q = seeded("p = (a)-[:sharesDNA*4..5]-(b)", "nodes(p) AS ns")
    got = node_lists(eng.run(q, {"seeds": names[:2]}))
    assert got == ref_var_length_paths(edges, names[:2], 4, 5, False)


@pytest.mark.parametrize("g_seed", SEEDS[:2])
@pytest.mark.parametrize("fn", ["allShortestPaths", "shortestPath"])
def test_cypher_shortest_matches_bruteforce(spark, g_seed, fn):
    eng, names, edges = cypher_engine(spark, g_seed)
    seeds = [names[0], names[2]]
    q = seeded(f"p = {fn}((a)-[:sharesDNA*..4]-(b:PhageGenome))", "nodes(p) AS ns")
    got = node_lists(eng.run(q, {"seeds": seeds}))
    want = ref_shortest(edges, seeds, 4, directed=False)
    if fn == "shortestPath":
        lexmin: dict = {}
        for p in want:
            key = (p[0], p[-1])
            lexmin[key] = min(lexmin.get(key, p), p)
        want = sorted(lexmin.values())
    assert got == want


@pytest.mark.parametrize("g_seed", SEEDS[:2])
@pytest.mark.parametrize("arrow", ["->", "-"])
def test_cypher_distinct_pairs_match_walks(spark, g_seed, arrow):
    eng, names, edges = cypher_engine(spark, g_seed)
    q = seeded(
        f"(a)-[:sharesDNA*1..3]{arrow}(b:PhageGenome)",
        "a.accession AS s, b.accession AS t",
    )
    got = sorted(tuple(r) for r in eng.run(q, {"seeds": names[:2]}).collect())
    assert got == ref_walk_pairs(edges, names[:2], 1, 3, arrow == "->")


def test_cypher_chain_paths_match_bruteforce(spark):
    eng, names, edges = cypher_engine(spark, 7)
    q = seeded(
        "p = (a)-[:sharesDNA*1..2]-(m:PhageGenome)-[:sharesDNA]->(b)",
        "nodes(p) AS ns",
    )
    got = node_lists(eng.run(q, {"seeds": names[:2]}))
    want = ref_chain_paths(edges, names[:2], [(1, 2, False), (1, 1, True)])
    assert got == want and want
