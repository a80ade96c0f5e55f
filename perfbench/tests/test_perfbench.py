"""Tests of the benchmark's own code (not of the engine).

    python3 -m pytest perfbench/tests -q

The oracle-agreement test starts a local Spark session and runs a tiny
generated graph through the same op code the benchmark times.
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from sparkstats import covered  # noqa: E402
from tracing import Tracer  # noqa: E402

TINY = 1500


# -- generator -------------------------------------------------------------


def test_generator_same_seed_byte_identical(tmp_path):
    a = gen.materialize(str(tmp_path / "a"), 7, TINY)
    b = gen.materialize(str(tmp_path / "b"), 7, TINY)
    for rel in ("nodes/part-0.parquet", "edges/part-0.parquet",
                "infects/part-0.parquet", "lineages.csv", "meta.json"):
        assert filecmp.cmp(os.path.join(a, rel), os.path.join(b, rel), shallow=False), rel


def test_generator_seed_changes_draw_not_shape():
    t1, m1 = gen.generate(1, TINY)
    t2, m2 = gen.generate(2, TINY)
    assert t1["nodes"].column("accession") != t2["nodes"].column("accession")
    assert t1["nodes"].num_rows == t2["nodes"].num_rows == TINY
    assert sorted(s for _, s in m1["genera"]) == sorted(s for _, s in m2["genera"])


def test_generator_fixture_shape():
    tables, meta = gen.generate(3, TINY)
    e = tables["edges"].to_pydict()
    pairs = [tuple(sorted(p)) for p in zip(e["src"], e["dst"])]
    assert len(pairs) == len(set(pairs))  # one stored direction per pair
    assert all(a != b for a, b in pairs)  # no self-loops
    d = e["distance"]
    assert {0.1, 0.15, 0.25} <= set(d)
    assert any(x == 0.0 and str(x) == "-0.0" for x in d)
    hosts_per = {}
    for s in tables["infects"].column("src").to_pylist():
        hosts_per[s] = hosts_per.get(s, 0) + 1
    assert max(hosts_per.values()) >= 2  # multi-host phages
    assert len(hosts_per) < TINY  # hostless phages
    lin = tables["lineages"].to_pydict()
    assert 0.1 < lin["family"].count("") / TINY < 0.25
    assert 0.7 < lin["subfamily"].count("") / TINY < 0.9


def test_op_sequence_is_a_function_of_the_seed():
    _, m4 = gen.generate(4, TINY)
    _, m5 = gen.generate(5, TINY)
    for w in workloads.WORKLOADS:
        assert workloads.make_specs(w, m4, 4) == workloads.make_specs(w, m4, 4)
        assert workloads.make_specs(w, m4, 4) != workloads.make_specs(w, m5, 5)
        # same op kinds and thresholds in the same positions for every seed
        strip = [{k: v for k, v in s.items() if k in ("kind", "tpl", "op", "t")}
                 for s in workloads.make_specs(w, m4, 4)]
        assert strip == [{k: v for k, v in s.items() if k in ("kind", "tpl", "op", "t")}
                         for s in workloads.make_specs(w, m5, 5)]


# -- statistics ------------------------------------------------------------


def test_tail_has_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = stats.tail(xs)
    assert n == 100 and pct == 90.0
    assert sum(1 for x in xs if x > value) == 10


@pytest.mark.parametrize("n", [20, 21, 37, 250])
def test_tail_percentile_is_the_highest_with_ten_beyond(n):
    xs = [float(i) for i in range(n)]
    value, pct, _ = stats.tail(xs)
    assert sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_never_below_median():
    xs = [3.0, 1.0, 2.0, 5.0, 4.0]
    assert stats.tail(xs) == (3.0, 50.0, 5)


def test_runs_time_whole_blocks_fixed_by_seconds():
    for w in workloads.WORKLOADS:
        n = workloads.n_blocks(w, 20)
        assert n >= 1 and n == workloads.n_blocks(w, 20)
        assert workloads.n_blocks(w, 0.1) == 1
        assert workloads.n_blocks(w, 1e6) == workloads.MAX_BLOCKS
        _, meta = gen.generate(4, TINY)
        specs = workloads.make_specs(w, meta, 4)
        timed = [s for s in specs if s["phase"] == "timed"]
        block = len(workloads.PLANS[w][1])
        assert len(timed) == block * workloads.MAX_BLOCKS
        kinds = [(s["kind"], s.get("op"), s.get("local_threshold"), s.get("rank"),
                  s.get("harsh") if s["kind"] == "host" else None) for s in timed]
        assert all(kinds[i] == kinds[i % block] for i in range(len(kinds)))


def test_failure_counting():
    assert stats.failure_counts(["ok", "error", "ok", "mismatch"]) == (4, 2)
    assert stats.failure_counts(["ok"]) == (1, 0)


class _Catalog:
    def clearCache(self):
        pass


class _Spark:
    catalog = _Catalog()


class _Program:
    """Returns a wrong answer for one op and raises on another."""

    def graph(self, spec):
        if spec["op"] == "core":
            raise RuntimeError("boom")
        return spec, None


def test_errors_and_mismatches_both_count_as_failed(monkeypatch):
    specs = [{"key": "k0", "kind": "graph", "op": "degrees", "t": 0.1},
             {"key": "k1", "kind": "graph", "op": "core", "t": 0.1},
             {"key": "k2", "kind": "graph", "op": "pagerank", "t": 0.1}]
    runner = run.Runner("cypher_analytics", _Program(), {}, _Spark())
    records, _ = runner.loop(specs, Tracer(False))
    assert records[1]["err"].startswith("RuntimeError")
    monkeypatch.setattr(workloads, "rows_digest", lambda rows: {"rows": 0, "hash": "x"})
    import pyarrow.parquet as pq
    monkeypatch.setattr(pq, "read_table", lambda path: _EmptyTable())
    outcomes = [run.check("cypher_analytics", r, e) for r, e in zip(
        records, [{"rows": 0, "hash": "x"}, {"rows": 0, "hash": "x"},
                  {"rows": 1, "hash": "y"}])]
    assert outcomes == ["ok", "error", "mismatch"]
    assert stats.failure_counts(outcomes) == (3, 2)


class _EmptyTable:
    column_names: list = []


# -- tracing and counters --------------------------------------------------


def test_self_time_excludes_children():
    tr = Tracer(True)
    with tr.span("op"):
        with tr.span("child"):
            pass
    st = tr.self_times()
    assert st["op"]["self_s"] == pytest.approx(st["op"]["total_s"] - st["child"]["total_s"])
    assert Tracer(False).spans == []


def test_covered_merges_overlapping_intervals():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(1, 3)], 2, 10) == 1
    assert covered([], 0, 1) == 0


# -- oracle vs program ------------------------------------------------------


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("perfbench"))
    run.setup_env(root)
    graph_dir = gen.materialize(root, 11, TINY)
    from oracle import Oracle

    import json

    with open(os.path.join(graph_dir, "meta.json")) as f:
        meta = json.load(f)
    return root, graph_dir, meta, Oracle(graph_dir)


@pytest.mark.parametrize("workload,n_timed", [("clouds_interactive", 9),
                                              ("cypher_analytics", 22)])
def test_oracle_agrees_with_program_on_tiny_graph(tiny, workload, n_timed):
    """Every op kind and template of the sequence, warm-up and traced-only
    ops included: 22 timed cypher ops reach every read and write template."""
    root, graph_dir, meta, oracle = tiny
    from ops import Program
    from phageclouds_graphdatabase_spark.session import get_spark

    spark = get_spark("perfbench-tests")
    all_specs = workloads.make_specs(workload, meta, 11)
    specs = ([s for s in all_specs if s["phase"] != "timed"]
             + [s for s in all_specs if s["phase"] == "timed"][:n_timed])
    n_ops = len(specs)
    queries = {s["key"]: (workloads.read_query(s) if s["kind"] == "read"
                          else workloads.write_query(s))
               for s in specs if s.get("kind") in ("read", "write")}
    os.makedirs(os.path.join(root, "out"), exist_ok=True)
    tracer = Tracer(False)
    runner = run.Runner(workload, Program(spark, graph_dir, root, tracer),
                        queries, spark)
    records, _ = runner.loop(specs, tracer)
    outcomes = [run.check(workload, r, oracle.answer(workload, r["spec"]))
                for r in records]
    assert outcomes == ["ok"] * n_ops, [r["err"] for r in records if r["err"]]
