"""Round-10 optimization pins.

Each round-10 change to an operator's internals is value- or plan-gated
here so a regression fails loudly:

- nodesim decode-dictionary broadcast gate (ADVICE r9 medium): the gate
  must read |ids| (all distinct nodes), not nv (out-degree holders) —
  a sink-heavy graph with few sources but many nodes must NOT broadcast
  the dictionary past the cap.
- _coredec_packed must pass pack_ids=False to the inner loop: the
  "auto" default re-probes the packed graph, and packing preserves the
  degree histogram, so every graph deep enough to trigger packing would
  recurse (and re-encode) forever.
"""
from __future__ import annotations

import pytest

import phageclouds_graphdatabase_spark.operators.graph as G


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
