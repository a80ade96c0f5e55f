"""Iterative-loop layer of operators/graph.py: the one checkpoint helper
``_ckpt`` and the lazy/eager gates of the bounded loops.

- Loop-state statistics stay bounded: every frame ``_ckpt`` returns has a
  plan size estimate of constant width, however many rounds a loop runs.
  A checkpointed LogicalRDD that kept its origin plan's estimate grew it
  by digits per round (the cost of a round then tracked the round number,
  not the live data).
- A reliable cut with no checkpoint directory fails with a clear error.
- Every lazy gate is value-gated: the eager (checkpointed) and lazy
  (composed) paths give identical rows on the same input. The module
  constants are the very gates the operators read, so patching them
  exercises both code paths.
- The six linear centralities on the push-sum kernel match a pure-Python
  integer reference on both sides of ``ITER_LAZY``, and at their default
  2 iterations each leaves at most its one pinned base frame behind.
- Packed core decomposition probes for packing once: its inner loop never
  re-probes the packed graph.
"""
from __future__ import annotations

import math
import random

import pytest

import phageclouds_graphdatabase_spark.operators.graph as G
from phageclouds_graphdatabase_spark.graphframe import GraphFrame
from phageclouds_graphdatabase_spark.operators.dedup import jaccard_pairs_capped

from tests.test_path_differential import random_graph

# ---------------------------------------------------------------------------
# _ckpt: bounded statistics, reliable-cut guard
# ---------------------------------------------------------------------------


def _shuffled_path(spark, n):
    # a path under a random labelling: min-label propagation needs many
    # rounds, so a per-round blow-up has room to show
    ids = list(range(n))
    random.Random(7).shuffle(ids)
    return spark.createDataFrame(list(zip(ids, ids[1:])), "src long, dst long")


# hashmin needs O(diameter) rounds (1,311 on the 3,000-node path), so it
# runs on a 60-node path, which takes 17 rounds inside max_iterations=50
@pytest.mark.parametrize("method,n", [("contract", 3000), ("hashmin", 60)])
def test_loop_state_stats_stay_bounded(spark, monkeypatch, method, n):
    edges = _shuffled_path(spark, n)
    bits = []
    real_ckpt = G._ckpt

    def spy(df, reliable=False):
        out = real_ckpt(df, reliable)
        # py4j hands the scala BigInt over as a Python int; count its bits,
        # never its decimal digits (str() refuses ints past 4,300 digits)
        size = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        bits.append(size.bit_length())
        assert bits[-1] <= 64, bits  # fail at the first runaway cut
        return out

    monkeypatch.setattr(G, "_ckpt", spy)
    got = G.connected_components(
        edges, method=method, local_threshold=0, relabel_ids=False
    )
    got = sorted(map(tuple, got.collect()))
    monkeypatch.undo()
    assert len(bits) >= 15, bits
    want = sorted(map(tuple, G._components_local(edges, None).collect()))
    assert got == want


def test_reliable_ckpt_without_dir_fails_clearly(spark, monkeypatch):
    # the session's SparkContext may carry a dir set by another test;
    # present it as unset
    monkeypatch.setattr(type(spark.sparkContext), "getCheckpointDir", lambda self: None)
    with pytest.raises(ValueError, match="checkpoint_dir"):
        G._ckpt(spark.range(3), reliable=True)
    sh = spark.createDataFrame([(1, "a"), (2, "a")], "doc_id long, shingle string")
    with pytest.raises(ValueError, match="checkpoint_dir"):
        jaccard_pairs_capped(sh, freq_cap=10, reliable_checkpoint=True)


# ---------------------------------------------------------------------------
# lazy/eager gates of the bounded loops
# ---------------------------------------------------------------------------

_GATES = ("BFS_LAZY_K", "ITER_LAZY", "COREDEC_ROUND_BATCH")


@pytest.fixture
def toggle(monkeypatch):
    """Set every lazy gate constant to one value; restored after."""

    def set_all(val: int) -> None:
        for name in _GATES:
            monkeypatch.setattr(G, name, val)

    return set_all


def _rows(df):
    return sorted(map(str, df.collect()))


EDGES = [
    ("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("b", "d"),
    ("e", "f"), ("f", "g"), ("a", "e"), ("g", "h"), ("h", "e"),
]


@pytest.fixture
def edges_df(spark):
    return spark.createDataFrame(EDGES, "src string, dst string")


@pytest.fixture
def wedges_df(spark):
    rows = [(s, d, 1.0 + (i % 3)) for i, (s, d) in enumerate(EDGES)]
    return spark.createDataFrame(rows, "src string, dst string, distance double")


def _eager_vs_lazy(toggle, build):
    toggle(0)
    eager = _rows(build())
    toggle(8)
    lazy = _rows(build())
    assert eager == lazy and eager  # identical and non-empty
    return eager


def test_bfs_primitives_lazy_identical(spark, toggle, edges_df):
    roots = spark.createDataFrame([("a",), ("e",)], "id string")
    _eager_vs_lazy(
        toggle,
        lambda: G.multi_source_bfs_levels(roots, edges_df, k=3, directed=False),
    )
    _eager_vs_lazy(
        toggle, lambda: G.bfs_sigma(roots, edges_df, k=3, directed=True)
    )
    _eager_vs_lazy(toggle, lambda: G.k_hop(roots, edges_df, k=3, directed=False))


def test_path_family_lazy_identical(spark, toggle, edges_df, wedges_df):
    seeds = spark.createDataFrame([("a",), ("g",)], "id string")
    _eager_vs_lazy(
        toggle,
        lambda: G.shortest_paths(seeds, edges_df, max_hops=3, directed=False),
    )
    _eager_vs_lazy(
        toggle,
        lambda: G.var_length_paths(seeds, edges_df, lo=1, hi=3, directed=True),
    )
    _eager_vs_lazy(
        toggle,
        lambda: G.cheapest_path_costs(
            seeds, wedges_df, max_hops=3, directed=False
        ),
    )


def test_linear_centrality_loops_lazy_identical(spark, toggle, edges_df):
    seeds = spark.createDataFrame([("a",)], "id string")
    _eager_vs_lazy(toggle, lambda: G.pagerank_scaled(edges_df, iterations=2))
    _eager_vs_lazy(
        toggle,
        lambda: G.personalized_pagerank_scaled(edges_df, seeds, iterations=2),
    )
    _eager_vs_lazy(
        toggle, lambda: G.katz_centrality_scaled(edges_df, iterations=2)
    )
    _eager_vs_lazy(
        toggle, lambda: G.article_rank_scaled(edges_df, iterations=2)
    )
    _eager_vs_lazy(toggle, lambda: G.eigenvector_scaled(edges_df, iterations=2))
    _eager_vs_lazy(toggle, lambda: G.hits_scores(edges_df, iterations=2))
    _eager_vs_lazy(toggle, lambda: G.fastrp_embeddings(edges_df, iters=2))


def test_labelprop_lazy_identical(spark, toggle, edges_df):
    v = spark.createDataFrame(
        [(x,) for x in "abcdefgh"], "id string"
    )
    _eager_vs_lazy(
        toggle, lambda: GraphFrame(v, edges_df).labelPropagation(2)
    )


def test_coredec_round_batch_identical(spark, toggle, edges_df):
    toggle(1)  # one h-index round per checkpoint
    one = _rows(G.core_decomposition(edges_df, rounds=5))
    toggle(3)
    batched = _rows(G.core_decomposition(edges_df, rounds=5))
    assert one == batched and one


# ---------------------------------------------------------------------------
# integer push-sum centralities against a pure-Python reference
# ---------------------------------------------------------------------------
#
# Every operator below is exact integer arithmetic, so the reference is the
# definition run round by round on Python ints. Iteration 3 runs the lazy
# composed query, 6 (> ITER_LAZY) the per-round _ckpt loop.

SCALE = 1_000_000


def _push(edges, x, frm=0, to=1, weight=None):
    """One round's per-target sums: Σ over edges frm->to of weight(frm),
    x[frm] by default."""
    weight = weight or x.__getitem__
    s = dict.fromkeys(x, 0)
    for e in edges:
        s[e[to]] += weight(e[frm])
    return s


def _out_degree(edges, nodes):
    od = dict.fromkeys(nodes, 0)
    for u, _v, _w in edges:
        od[u] += 1
    return od


def ref_pagerank(edges, nodes, iters, seeds=None, d_num=85, d_den=100):
    od = _out_degree(edges, nodes)
    base = SCALE * (d_den - d_num) // d_den
    seed = {v: 1 if seeds is None or v in seeds else 0 for v in nodes}
    x = {v: SCALE * seed[v] for v in nodes}
    for _ in range(iters):
        s = _push(edges, x, weight=lambda u: x[u] // od[u])
        x = {v: seed[v] * base + d_num * s[v] // d_den for v in nodes}
    return x


def ref_katz(edges, nodes, iters, a_num=1, a_den=8):
    x = dict.fromkeys(nodes, SCALE)
    for _ in range(iters):
        s = _push(edges, x)
        x = {v: SCALE + a_num * s[v] // a_den for v in nodes}
    return x


def ref_article_rank(edges, nodes, iters, avg_mode, d_num=85, d_den=100):
    od = _out_degree(edges, nodes)
    n_e, n_v = len(edges), len(nodes)
    if avg_mode == "exact":
        share = lambda u: x[u] * n_v // (od[u] * n_v + n_e)  # noqa: E731
    else:
        share = lambda u: x[u] // (od[u] + n_e // n_v)  # noqa: E731
    base = SCALE * (d_den - d_num) // d_den
    x = dict.fromkeys(nodes, SCALE)
    for _ in range(iters):
        s = _push(edges, x, weight=share)
        x = {v: base + d_num * s[v] // d_den for v in nodes}
    return x


def ref_eigenvector(edges, nodes, iters):
    x = dict.fromkeys(nodes, SCALE)
    for _ in range(iters):
        x = _push(edges, x)
    return x


def ref_hits(edges, nodes, iters):
    hub = dict.fromkeys(nodes, 1)
    for _ in range(iters):
        auth = _push(edges, hub)
        hub = _push(edges, auth, frm=1, to=0)
    return auth, hub


def _unit(x):
    ss = sum(v * v for v in x.values())
    return {k: v / math.sqrt(ss) if ss else 0.0 for k, v in x.items()}


@pytest.fixture(scope="module")
def rand_graph(spark):
    names, edges = random_graph(11, n_nodes=12, n_edges=20)
    nodes = sorted({v for e in edges for v in e[:2]})
    df = spark.createDataFrame(edges, "src string, dst string, distance double")
    return df, edges, nodes


@pytest.mark.parametrize("iters", [3, 6])
def test_linear_centralities_match_reference(spark, rand_graph, iters):
    df, edges, nodes = rand_graph
    seeds = nodes[:2]
    seed_df = spark.createDataFrame([(s,) for s in seeds], "id string")

    def got(frame, *cols):
        rows = frame.collect()
        return [{r.id: r[c] for r in rows} for c in cols]

    assert got(G.pagerank_scaled(df, iters), "pr_scaled") == [
        ref_pagerank(edges, nodes, iters)
    ]
    assert got(
        G.personalized_pagerank_scaled(df, seed_df, iters), "pr_scaled"
    ) == [ref_pagerank(edges, nodes, iters, seeds=set(seeds))]
    assert got(G.katz_centrality_scaled(df, iters), "katz_scaled") == [
        ref_katz(edges, nodes, iters)
    ]
    for mode in ("floor", "exact"):
        assert got(
            G.article_rank_scaled(df, iters, avg_mode=mode), "ar_scaled"
        ) == [ref_article_rank(edges, nodes, iters, mode)]
    eig = ref_eigenvector(edges, nodes, iters)
    assert got(G.eigenvector_scaled(df, iters), "eig_scaled") == [eig]
    (unit,) = got(G.eigenvector_scaled(df, iters, normalized=True), "eigenvector")
    assert unit == pytest.approx(_unit(eig), rel=1e-12)
    auth, hub = ref_hits(edges, nodes, iters)
    assert got(G.hits_scores(df, iters), "auth", "hub") == [auth, hub]
    n_auth, n_hub = got(G.hits_scores(df, iters, normalized=True), "auth", "hub")
    assert n_auth == pytest.approx(_unit(auth), rel=1e-12)
    assert n_hub == pytest.approx(_unit(hub), rel=1e-12)


@pytest.mark.parametrize(
    "op",
    ["pagerank", "ppr", "katz", "article_rank", "eigenvector", "hits"],
)
def test_linear_centrality_leaves_one_persisted_rdd(spark, edges_df, op):
    # at the default 2 iterations the rounds compose lazily: the one pin is
    # the static base frame the rounds join back onto
    seeds = spark.createDataFrame([("a",)], "id string")
    build = {
        "pagerank": lambda: G.pagerank_scaled(edges_df),
        "ppr": lambda: G.personalized_pagerank_scaled(edges_df, seeds),
        "katz": lambda: G.katz_centrality_scaled(edges_df),
        "article_rank": lambda: G.article_rank_scaled(edges_df),
        "eigenvector": lambda: G.eigenvector_scaled(edges_df),
        "hits": lambda: G.hits_scores(edges_df),
    }[op]
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    build().collect()
    assert jsc.getPersistentRDDs().size() - before <= 1


# --- packed core decomposition ------------------------------------------------
#
# `_coredec_packed` must pass pack_ids=False to the inner loop: the "auto"
# default re-probes the packed graph, and packing preserves the degree
# histogram, so every graph deep enough to trigger packing would recurse
# (and re-encode) forever.


def test_coredec_packed_does_not_reprobe(spark, monkeypatch):
    # Force the auto probe to always fire: before the round-10 fix the
    # packed path delegated with pack_ids defaulting to "auto", so this
    # recursed (the packed graph has the identical degree histogram).
    calls = []
    real = G._coredec_auto_pack

    def probe(*a, **kw):
        calls.append(1)
        return True

    monkeypatch.setattr(G, "_coredec_auto_pack", probe)
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    out = G.core_decomposition(e, rounds=2, pack_ids=True)
    got = {(r["id"], r["core"]) for r in out.collect()}
    # pack_ids=True must never consult the probe at all
    assert calls == []
    monkeypatch.setattr(G, "_coredec_auto_pack", real)
    want = {
        (r["id"], r["core"])
        for r in G.core_decomposition(e, rounds=2, pack_ids=False).collect()
    }
    assert got == want


def test_coredec_auto_fires_once_then_packs(spark, monkeypatch):
    # auto → probe True → packed path → inner loop must not re-probe
    calls = []

    def probe(*a, **kw):
        calls.append(1)
        return True

    monkeypatch.setattr(G, "_coredec_auto_pack", probe)
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    out = G.core_decomposition(e, rounds=2, pack_ids="auto")
    assert {(r["id"], r["core"]) for r in out.collect()} == {
        ("a", 2), ("b", 2), ("c", 2)
    }
    assert len(calls) == 1
