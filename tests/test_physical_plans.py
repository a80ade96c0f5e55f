"""Physical-plan assertions (SURVEY.md §4, SCALE.md): the scale properties
the engine is designed around must be visible in the executed plan, not just
claimed -- predicate pushdown to the Parquet scan, column pruning, broadcast
joins for node sets/dims, and whole-stage codegen on the hot aggregations.
A refactor that silently loses one of these fails here, long before it is
slow enough to notice at sf0.1."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from phageclouds_graphdatabase_spark.plans import suite_extensions as ext
from phageclouds_graphdatabase_spark.plans import suite_relational as rel
from phageclouds_graphdatabase_spark.sources.readers import read_table


def explain_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def full_explain(df) -> str:
    # includes the FileScan line with PushedFilters/ReadSchema
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_distance_filter_pushed_to_parquet_scan(spark, sf_dir):
    e = read_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") <= 25)
    plan = full_explain(e)
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(l_quantity" in plan, plan


def test_projection_prunes_scan_columns(spark, sf_dir):
    df = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = full_explain(df)
    # ReadSchema carries only the projected columns, not all 16
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_graph_expand_broadcasts_node_set(spark, sf_dir):
    df = ext.graph_expand_nodes(spark, sf_dir)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_q1_stays_in_whole_stage_codegen(spark, sf_dir):
    df = rel.q1_pricing_summary(spark, sf_dir)
    df.collect()  # AQE reveals codegen spans only in the final plan
    plan = explain_str(df)
    # '*(n) ' prefixes mark WholeStageCodegen stages in executedPlan strings
    assert "*(1)" in plan and "HashAggregate" in plan, plan
    # the aggregation itself is JVM-side: no Python eval anywhere
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hot_path_queries_avoid_row_python_udfs(spark, sf_dir):
    # every headline bench query must stay off row-at-a-time Python UDFs
    from bench import HEADLINE
    from phageclouds_graphdatabase_spark.plans.suite import SUITE

    offenders = []
    for name in HEADLINE:
        if name in ("graph_components",):  # iterative: plan materialized per round
            continue
        plan = explain_str(SUITE[name].fn(spark, sf_dir))
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_kmeans_centroid_joins_broadcast(spark, sf_dir):
    # centroids are K rows: both assignment joins must broadcast them,
    # never shuffle the corpus side against a tiny table
    from phageclouds_graphdatabase_spark.plans import suite_pipeline as pipe

    plan = explain_str(pipe.kmeans_ivf_train(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_simhash_vocab_join_broadcasts(spark, sf_dir):
    # the dictionary-encoded vocabulary (distinct tokens) must broadcast
    # onto the per-doc counts
    plan = explain_str(ext.simhash_fingerprint(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_cypher_compiled_plans_are_join_based(spark, sf_dir):
    """Cypher frontend plans: predicates reach the Parquet scans, no
    cartesian products, no row-Python eval, IN-lists stay Catalyst-native,
    and the existential pattern compiles to a semi join."""
    from phageclouds_graphdatabase_spark.plans import suite_cypher as cy

    seed = cy.cypher_seed_expand(spark, sf_dir)
    plan = full_explain(seed)
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
    # the CONTAINS predicate is pushed into the part scan
    assert "Contains" in plan or "StringContains" in plan, plan

    induced = cy.cypher_induced_in_list(spark, sf_dir)
    plan = full_explain(induced)
    assert "CartesianProduct" not in plan
    # literal IN-list compiles to a Catalyst In/InSet over the scan, pushed
    # down as PushedFilters: [In(l_partkey, ...)] after constant folding
    assert " IN " in plan or "INSET" in plan or "In(" in plan, plan

    exist = cy.cypher_existential_collect(spark, sf_dir)
    plan = full_explain(exist)
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_node_set_broadcast_is_size_gated(spark, sf_dir):
    """The VERDICT r1 scale defect: a forced F.broadcast on a node set
    OOMs when the set is a 38M-node cloud. maybe_broadcast hints only
    under BROADCAST_CAP_BYTES; above it the semi-join must compile
    WITHOUT a BroadcastExchange on the node-set side (AQE + bloom filter
    take over)."""
    from phageclouds_graphdatabase_spark.operators import graph as G

    edges = read_table(spark, sf_dir, "lineitem").select(
        F.concat(F.lit("P"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst"),
        F.col("l_discount").alias("distance"),
    )

    # small set (25 rows): the hint fires -> broadcast join in the plan
    small = read_table(spark, sf_dir, "nation").select(
        F.concat(F.lit("P"), F.col("n_nationkey")).alias("id")
    )
    assert G._estimated_bytes(small) is not None
    plan = explain_str(G.induced_subgraph(small, edges, threshold=0.05))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan

    # huge set (200M ids, estimated ~GBs): no broadcast hint anywhere --
    # with autoBroadcastJoinThreshold in play the plan must fall back to a
    # shuffle-side semi join on the node-set side
    huge = spark.range(200_000_000).select(
        F.concat(F.lit("P"), F.col("id")).alias("id")
    )
    est = G._estimated_bytes(huge)
    assert est is not None and est > G.BROADCAST_CAP_BYTES
    # maybe_broadcast must decline the hint entirely
    hinted = G.maybe_broadcast(huge)
    assert "ResolvedHint" not in hinted._jdf.queryExecution().analyzed().toString()
    induced = G.induced_subgraph(huge, edges, threshold=0.05)
    logical = induced._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" not in logical.lower(), logical


def test_cypher_struct_pruning_reaches_scans(spark, sf_dir):
    """The binding frame prunes node structs to referenced properties: the
    seed side reads only key+taxonomy source columns, and the b side of the
    motif reads ONLY the key column — nothing else survives to the scan."""
    from phageclouds_graphdatabase_spark.plans import suite_cypher as cy

    df = cy.cypher_seed_expand(spark, sf_dir)
    plan = full_explain(df)
    schemas = [l.strip() for l in plan.splitlines() if "ReadSchema" in l]
    part_scans = [s for s in schemas if "p_partkey" in s]
    assert part_scans, plan
    # no part scan reads the unreferenced p_size/p_brand/p_retailprice
    assert all("p_size" not in s and "p_brand" not in s for s in part_scans)
    # the b side is key-only
    assert any(s.endswith("struct<p_partkey:bigint>") for s in part_scans)


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """At-rest tables partitioned by a dimension column must get DPP: a
    selective filter on the joined dim side becomes a runtime partition
    filter on the fact scan (dynamicpruningexpression), so a 100 TB
    partitioned fact reads only the partitions the dim filter selects
    instead of all of them."""
    orders = read_table(spark, sf_dir, "orders")
    p = str(tmp_path / "orders_by_priority")
    orders.write.partitionBy("o_orderpriority").mode("overwrite").parquet(p)
    fact = spark.read.parquet(p)
    dim = (
        orders.select(F.col("o_orderpriority").alias("pri"))
        .distinct()
        .filter(F.col("pri").startswith("1"))
    )
    j = (
        fact.join(dim, fact.o_orderpriority == dim.pri)
        .groupBy("pri")
        .agg(F.count("*").alias("n"))
    )
    plan = full_explain(j)
    assert "dynamicpruning" in plan.lower(), plan


def test_ann_int8_rescore_broadcasts_and_prunes(spark, sf_dir):
    """The int8 rescore plan must broadcast the (tiny) query side of the
    candidate scan and the norm tables; the full-precision table is probed
    only via the k*overfetch candidate join (no second cross product)."""
    df = ext.ann_int8_rescore(spark, sf_dir)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # exactly one non-equi candidate product (query x int8 table); the
    # rescore path is equi-joins on query_id/neighbor_id
    assert plan.count("NestedLoopJoin") <= 1, plan


def test_quality_classifier_has_partial_aggregation(spark, sf_dir):
    """The hashed-classifier reduce must run map-side partials (combiners)
    before the doc_id shuffle — the property that bounds the shuffle at
    corpus scale — and stay free of Python UDFs."""
    from phageclouds_graphdatabase_spark.plans import suite_training as tr

    df = tr.quality_classifier_hashed(spark, sf_dir)
    plan = explain_str(df)
    assert "partial" in plan.lower(), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cypher_map_projection_prunes_scan(spark, sf_dir, tmp_path):
    # n {.accession, kb: ...} must reach the parquet scan as a pruned
    # ReadSchema: only the projected properties (+ key), never taxonomy
    from phageclouds_graphdatabase_spark.cypher import CypherEngine, phage_catalog
    from phageclouds_graphdatabase_spark.plans import suite_cypher as sc

    p = str(tmp_path / "nodes")
    sc._nodes(spark, sf_dir).write.mode("overwrite").parquet(p)
    nodes = spark.read.parquet(p)
    edges = spark.createDataFrame([], "src string, dst string, distance double")
    eng = CypherEngine(phage_catalog(nodes, edges))
    df = eng.run(
        "MATCH (n:PhageGenome) "
        "RETURN n {.accession, kb: n.genome_size / 1000} AS m"
    )
    plan = full_explain(df)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "accession" in read_schema and "genome_size" in read_schema
    assert "taxonomy" not in read_schema and "source" not in read_schema, read_schema


def test_cypher_subscript_stays_jvm_side(spark, sf_dir, tmp_path):
    # list slicing / subscripts compile to F.get/F.slice — no Python
    # evaluation nodes in the plan
    from phageclouds_graphdatabase_spark.cypher import CypherEngine, phage_catalog
    from phageclouds_graphdatabase_spark.plans import suite_cypher as sc

    p = str(tmp_path / "nodes2")
    sc._nodes(spark, sf_dir).write.mode("overwrite").parquet(p)
    nodes = spark.read.parquet(p)
    edges = spark.createDataFrame([], "src string, dst string, distance double")
    eng = CypherEngine(phage_catalog(nodes, edges))
    df = eng.run(
        "MATCH (n:PhageGenome) WITH collect(n.accession) AS xs "
        "RETURN xs[0] AS first, xs[1..3] AS mid"
    )
    plan = explain_str(df)
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def test_any_node_union_prunes_both_scan_arms(spark, sf_dir, tmp_path):
    # unlabeled MATCH (n): column pruning must reach the parquet scan of
    # EVERY arm of the union-over-labels — the PhageGenome arm reads only
    # the referenced property, the Host arm only its key source column
    from phageclouds_graphdatabase_spark.cypher import CypherEngine, phage_catalog
    from phageclouds_graphdatabase_spark.plans import suite_cypher as sc

    np_, ip_ = str(tmp_path / "nodes"), str(tmp_path / "infects")
    sc._nodes(spark, sf_dir).write.mode("overwrite").parquet(np_)
    sc._infects(spark, sf_dir).write.mode("overwrite").parquet(ip_)
    eng = CypherEngine(phage_catalog(
        spark.read.parquet(np_),
        spark.createDataFrame([], "src string, dst string, distance double"),
        spark.read.parquet(ip_),
    ))
    df = eng.run("MATCH (n) RETURN labels(n)[0] AS label, count(n.genus) AS g")
    plan = explain_str(df)
    schemas = [l.strip() for l in plan.splitlines() if "ReadSchema" in l]
    assert any("genus" in s and "taxonomy" not in s and "accession" not in s
               for s in schemas), schemas
    assert any("host_genus" in s and "src" not in s for s in schemas), schemas


def test_ktruss_closing_join_is_broadcast_prefiltered(spark):
    # the triangle-closing semi-join must NOT sort-merge the wedge stream
    # (observed disk death at the 2M-skew tier): phase 1 is a map-side
    # BroadcastHashJoin LeftSemi against the 64-bit edge-hash set, phase 2
    # the exact semi-join on the tiny survivor set
    from phageclouds_graphdatabase_spark.operators.graph import (
        _orient_edges,
        _triangle_support,
    )

    live = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "a int, b int"
    )
    plan = explain_str(_triangle_support(_orient_edges(live)))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    # the broadcast prefilter rides on the xxhash64 of the closing pair
    assert "xxhash64" in plan, plan


def test_ktruss_closing_join_shuffle_hash_above_broadcast_cap(spark):
    # above KTRUSS_HASH_BROADCAST_CAP_EDGES the hash relation would blow
    # the driver (round-3 VERDICT "What's wrong" #1): the closing join
    # must fall back to a SHUFFLE-HASH exact semi-join — shuffled, never
    # sorted (SortMergeJoin LeftSemi is the shape that spill-sorted ~2B
    # wedges to disk death at the 2M-skew tier)
    from phageclouds_graphdatabase_spark.operators.graph import (
        _orient_edges,
        _triangle_support,
    )

    live = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "a int, b int"
    )
    plan = explain_str(
        _triangle_support(
            _orient_edges(live), edge_count=3, hash_broadcast_cap_edges=1
        )
    )
    assert "ShuffledHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin LeftSemi" not in plan, plan
    # no hash prefilter in this branch: the exact join IS the filter
    assert "xxhash64" not in plan, plan


def test_triangle_counts_inherits_gated_closing_join(spark):
    # triangle_counts routes through the SAME _enumerate_triangles core
    # as k-truss (round 5): broadcast xxhash64 prefilter under the cap,
    # sort-free shuffle-hash above it — per-node counting must never
    # reintroduce the sort-merge wedge sort
    from phageclouds_graphdatabase_spark.operators.graph import (
        triangle_counts,
    )

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src int, dst int"
    )
    under = explain_str(triangle_counts(e))
    assert "BroadcastHashJoin" in under and "xxhash64" in under, under
    over = explain_str(
        triangle_counts(e, edge_count=3, hash_broadcast_cap_edges=1)
    )
    assert "ShuffledHashJoin" in over and "LeftSemi" in over, over
    assert "SortMergeJoin LeftSemi" not in over, over


def test_nodesim_auto_gate_plan_shapes(spark):
    # the round-6 self-gate must change the PHYSICAL PLAN, not just the
    # values: on an unskewed graph the auto form delegates to the
    # single-pass operator (no hot-dst LeftAnti prune stage anywhere in
    # the plan); on a skewed graph the cap engages and the hub-pruned
    # candidate index shows up as a LeftAnti join
    from phageclouds_graphdatabase_spark.operators.graph import (
        node_similarity_topk_capped,
    )

    uniform = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), ("b", "z"), ("c", "y")],
        "src string, dst string",
    )
    plan_u = explain_str(
        node_similarity_topk_capped(
            uniform, k=5, freq_cap="auto", upper_degree_cutoff=10_000
        )
    )
    assert "LeftAnti" not in plan_u, plan_u
    skewed = spark.createDataFrame(
        [(f"s{i}", "HUB") for i in range(12)]
        + [("s0", "n1"), ("s1", "n1")]
        + [(f"s{i}", f"u{i}") for i in range(10)],
        "src string, dst string",
    )
    # the engaged path's rank tail localCheckpoints its scored frame
    # (round 9: one compute instead of once per union branch), which
    # truncates the FINAL plan at an RDD scan — so capture the pair
    # frame handed to the rank tail and pin the hub prune there
    import phageclouds_graphdatabase_spark.operators.graph as G

    captured = {}
    orig_rank = G._nodesim_rank

    def spy(inter, deg, k, metric, symmetric=False):
        captured["inter"] = inter
        return orig_rank(inter, deg, k, metric, symmetric)

    G._nodesim_rank = spy
    try:
        node_similarity_topk_capped(skewed, k=5, freq_cap="auto")
    finally:
        G._nodesim_rank = orig_rank
    plan_s = explain_str(captured["inter"])
    assert "LeftAnti" in plan_s, plan_s


def test_knn_scalar_plan_windowlimit_no_cartesian(spark, sf_dir):
    """gds.knn.stream's 1-D exact shape (round 7): the per-node top-k rank
    filter must engage Spark's WindowGroupLimit pushdown (rank computed
    only until k per partition, not over all candidates), the tiny
    bucket-offset table must broadcast, and there must be NO cartesian /
    nested-loop join anywhere — the candidate join is an integer-position
    equi-join by construction."""
    df = ext.graph_knn_scalar(spark, sf_dir)
    plan = explain_str(df)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the offsets join


# NB: louvain_refine's executed plan cannot be pinned the same way — each
# round ends in a localCheckpoint, so the returned frame's plan is a bare
# LogicalRDD scan (the joins already ran during construction). Its shape is
# instead covered by the argmax window being WindowGroupLimit-eligible
# (rn == 1 filter directly over row_number) and the driver-sim differential
# in tests/test_graph_operators.py.


def test_triangles_stream_no_cartesian(spark, sf_dir):
    # the enumeration's closing join must stay a (broadcast|shuffle) HASH
    # semi-join — never a cartesian/nested-loop blow-up
    df = ext.graph_triangles_stream(spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hits_stays_jvm_side_hash_aggregates(spark, sf_dir):
    # HITS checkpoints each round, so the FINAL lineage only shows the
    # a⋈h output join over the two checkpointed RDDs — the per-round
    # HashAggregates already executed inside the loop and are not
    # visible here. Assert the observable properties: a key-equi join
    # (hash or sort-merge, never nested-loop) and zero Python evals.
    df = ext.graph_hits_scores(spark, sf_dir)
    plan = explain_str(df)
    assert "Join" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the per-round plan IS observable one level down: one relaxation
    # round over the checkpointed state must partial-agg JVM-side
    from phageclouds_graphdatabase_spark.plans._suite_helpers import (
        GRAPH_THRESHOLD,
        graph_edges,
    )
    from pyspark.sql import functions as F

    e = graph_edges(spark, sf_dir, GRAPH_THRESHOLD).localCheckpoint()
    one_round = (
        e.groupBy("dst").agg(F.count(F.lit(1)).alias("s"))
    )
    rplan = explain_str(one_round)
    assert "HashAggregate" in rplan, rplan


def test_bellman_ford_rounds_are_hash_joins(spark, sf_dir):
    # same checkpoint-per-round shape: the final lineage is a filter over
    # the fixpoint RDD; assert no nested-loop/cartesian anywhere and no
    # Python evals (the relaxation min is a JVM HashAggregate inside the
    # loop, pinned indirectly by the operator finishing in bounded
    # rounds — a cartesian would not)
    df = ext.graph_bellman_ford(spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
