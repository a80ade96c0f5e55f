"""The driver's correctness gate, run as pytest: every SUITE entry executes
on Spark and (when an oracle exists) must match DuckDB on row-count + schema
+ order-insensitive value hash — the exact comparison the driver performs at
sf0.01 (BASELINE.md "engine gates"). Runs at sf0.001 for speed; switch via
$SPARK_GRAFT_TEST_SF_DIR."""

from __future__ import annotations

import pytest

from phageclouds_graphdatabase_spark.compare import compare_results
from phageclouds_graphdatabase_spark.plans.suite import SUITE, survey_coverage


# Entries whose point IS the Python table function (row-at-a-time eval).
PYTHON_UDTF_OK = {"udtf_explode_props", "udtf_table_arg_topk"}


@pytest.mark.parametrize("name", sorted(SUITE))
def test_suite_entry_matches_oracle(name, spark, duck, sf_dir):
    """Besides the oracle comparison, each entry's physical plan is screened
    for the two patterns that do not survive 100 TB: an unconstrained
    CartesianProduct, and row-at-a-time Python eval (BatchEvalPython)
    outside the two UDTF entries. Arrow-batched nodes (ArrowEvalPython /
    MapInPandas) are the sanctioned Python path and are allowed. Streaming
    entries execute eagerly (their result is already a local relation)
    and are exercised by tests/test_streaming.py instead."""
    entry = SUITE[name]
    sdf = entry.fn(spark, sf_dir)
    if not name.startswith("stream_") and name != "vis_html_golden_scan":
        # read before collect(): the initial plan, before AQE re-plans it
        plan = sdf._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        if name not in PYTHON_UDTF_OK:
            assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    if entry.oracle is None:
        # Non-SQL-expressible: the driver's weaker rows-only check.
        assert isinstance(s_rows, list)
        return
    cur = duck.execute(entry.oracle)
    d_cols = [c[0] for c in cur.description]
    d_rows = cur.fetchall()
    problems = compare_results(s_cols, s_rows, d_cols, d_rows)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_survey_rows_all_covered():
    """Every SURVEY.md §2 operator row is claimed by >= 1 suite query."""
    covered = set(survey_coverage())
    expected = {
        # scans/sinks S1-S3 are the engine itself (readers/session); S4-S7
        # are exercised by tests/test_sources_sinks.py; V7 is driver-side
        # sink naming (sinks.threshold_slug, tested there too).
        "P1", "P2", "P3", "P4", "P5", "P6", "P7", "P8",
        "J1", "J2", "J3", "J4", "J5", "J6", "J7",
        "A1", "A2", "A3", "A4", "A5", "A6",
        "V1", "V2", "V3", "V4", "V5", "V6", "V8",
        "W1", "W2", "W3", "W4", "W5", "W6",
    }
    missing = expected - covered
    assert not missing, f"SURVEY rows with no suite query: {sorted(missing)}"


def test_oracle_sql_column_names_align(duck, sf_dir):
    """Spot the classic driver-gate failure early: Spark and oracle column
    NAMES must match (driver sorts columns by name before hashing)."""
    import __spark_entry__ as se

    oracles = se.oracle_sql()
    assert set(oracles) <= set(se.queries())
    for name, sql in oracles.items():
        cur = duck.execute(f"SELECT * FROM ({sql}) LIMIT 0")
        d_cols = sorted(c[0] for c in cur.description)
        assert len(d_cols) == len(set(d_cols)), f"{name}: duplicate oracle columns {d_cols}"


def test_driver_window_invariants(spark, sf_dir):
    """The driver checks the FIRST 50 dict entries of queries(). Guard the
    rotation's invariants: the window is exactly 50 names, every one has a
    value oracle, and no window entry emits an array/map/struct column
    (the driver's canonicalizer cannot sort list cells — the round-1
    failure mode)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    import __spark_entry__ as se

    qs, oracles = se.queries(), se.oracle_sql()
    window = list(qs)[:50]
    assert len(window) == 50
    missing = [n for n in window if n not in oracles]
    assert not missing, f"window entries without oracles: {missing}"
    offenders = []
    for name in window:
        if name.startswith("stream_"):
            continue  # streaming entries execute eagerly; checked via run
        df = qs[name](spark, sf_dir)
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders.append((name, bad))
    assert not offenders, f"non-scalar driver outputs: {offenders}"


def test_coverage_md_matches_suite():
    """COVERAGE.md is generated (tools/gen_coverage.py); this pins it to the
    live suite so rotation blindness can't hide a drift between the
    committed inventory and the code (VERDICT_r2 ask #6)."""
    import os

    from phageclouds_graphdatabase_spark.plans.suite import survey_coverage
    from tools.gen_coverage import COVERAGE_PATH, render_table

    with open(COVERAGE_PATH) as f:
        text = f.read()
    assert text.endswith(render_table()), (
        "COVERAGE.md is stale; run `python tools/gen_coverage.py`"
    )
    # every suite entry appears in at least one row
    listed = set()
    for names in survey_coverage().values():
        listed.update(names)
    assert listed == set(SUITE), sorted(set(SUITE) ^ listed)


def test_core_decomposition_budget_is_fixpoint(spark, sf_dir):
    """graph_core_decomposition runs the oracle's 8-round budget (ADVICE
    r6: matched budgets make the comparison exact by construction); this
    pins the stronger claim that 8 rounds ALSO reaches the fixpoint on
    the actual testdata graph, so the suite entry's answer is the true
    coreness — if a testdata regen ever ships a graph needing more
    rounds, this fails loudly instead of the gate silently comparing two
    pre-convergence vectors."""
    from phageclouds_graphdatabase_spark.operators import graph as G
    from phageclouds_graphdatabase_spark.plans.suite_extensions import (
        GRAPH_THRESHOLD,
        graph_edges,
    )

    e = graph_edges(spark, sf_dir, GRAPH_THRESHOLD)
    budget = sorted(map(tuple, G.core_decomposition(e, rounds=8).collect()))
    fix = sorted(map(tuple, G.core_decomposition(e).collect()))
    assert budget == fix and len(fix) > 0
