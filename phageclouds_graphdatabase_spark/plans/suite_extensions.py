"""Oracle-checked extension suite: graph operators (SURVEY.md §2.3/W6) over
the lineitem-derived graph, plus the LLM-data-pipeline surface (W5): text
analysis, dedup (exact / MinHash / SimHash / n-gram Jaccard), similarity
search over embeddings, windowed event analytics (W3 batch shape), and the
multimodal metadata pipeline (W4 Arrow plumbing).

Graph semantics mirror the reference's Cypher pipelines exactly (citations
inline); they run here on a graph derived from the testdata so the DuckDB
oracle can check them (the phage tables aren't part of /root/testdata).
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from phageclouds_graphdatabase_spark.operators import graph as G
from phageclouds_graphdatabase_spark.plans._suite_helpers import (
    GRAPH_EDGES_SQL,
    GRAPH_SEEDS_SQL,
    GRAPH_THRESHOLD,
    SuiteEntry,
    arr_str,
    cents,
    graph_edges,
    graph_seeds,
    t,
    tokens,
)

# Common oracle CTE prefix for the graph queries (kept in lockstep with
# graph_edges/graph_seeds + operators.graph implementations). NB: plain WITH,
# not WITH RECURSIVE -- DuckDB 1.0 silently changes the semantics of sibling
# non-recursive CTEs under WITH RECURSIVE (observed: node_set 411 -> 2485
# rows); the components oracle below inlines everything for that reason.
_GRAPH_CTE = f"""
WITH edges AS ({GRAPH_EDGES_SQL}),
seeds AS ({GRAPH_SEEDS_SQL}),
node_set AS (
    SELECT id FROM seeds
    UNION
    SELECT e.dst AS id FROM edges e JOIN seeds s ON e.src = s.id
    WHERE e.distance <= {GRAPH_THRESHOLD}
),
induced AS (
    SELECT e.src, e.dst, e.distance
    FROM edges e
    JOIN node_set a ON e.src = a.id
    JOIN node_set b ON e.dst = b.id
    WHERE e.distance <= {GRAPH_THRESHOLD}
)
"""


# --------------------------------------------------------------------------
# Graph pattern matching (J2, J3, J5+A4, degrees, W6 components)
# --------------------------------------------------------------------------

def graph_expand_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 1-hop expand: node set = seeds UNION out-neighbors under the
    distance threshold -- the cloud-extraction seed step
    (/root/reference/phageclouds_gdb.py:56-62). Directed-only expand
    reproduces the reference quirk (edges stored once per pair)."""
    return G.expand(
        graph_seeds(spark, sf_dir),
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD),
        GRAPH_THRESHOLD,
    )


GRAPH_EXPAND_SQL = _GRAPH_CTE + "SELECT id FROM node_set"


def graph_induced_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 induced-subgraph edge extraction: both endpoints in the node set
    AND distance <= t (/root/reference/phageclouds_gdb.py:64-67)."""
    seeds = graph_seeds(spark, sf_dir)
    # Both the edge aggregation and the node set feed multiple joins in one
    # plan; without cache the whole lineitem agg re-executes per use
    # (observed 4x in .explain("formatted") -- ReuseExchange doesn't unify
    # them across broadcast/shuffle positions).
    edges = graph_edges(spark, sf_dir, GRAPH_THRESHOLD).cache()
    ns = G.expand(seeds, edges, GRAPH_THRESHOLD).cache()
    return G.induced_subgraph(ns, edges, GRAPH_THRESHOLD)


GRAPH_INDUCED_SQL = _GRAPH_CTE + "SELECT src, dst, distance FROM induced"


def graph_khop_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length path expand (Cypher MATCH (s)-[*1..3]-(n)): BFS
    levels to depth 3, undirected, over the derived graph. The oracle
    unrolls the three frontiers as chained plain CTEs (NOT WITH RECURSIVE
    -- see the _GRAPH_CTE note on DuckDB 1.0 sibling-CTE corruption)."""
    return G.k_hop(
        graph_seeds(spark, sf_dir),
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD),
        k=3,
        threshold=GRAPH_THRESHOLD,
        directed=False,
    )


GRAPH_KHOP_SQL = f"""
WITH edges AS ({GRAPH_EDGES_SQL}),
und AS (
    SELECT src, dst FROM edges WHERE distance <= {GRAPH_THRESHOLD}
    UNION
    SELECT dst AS src, src AS dst FROM edges WHERE distance <= {GRAPH_THRESHOLD}
),
h0 AS ({GRAPH_SEEDS_SQL}),
h1 AS (
    SELECT DISTINCT u.dst AS id FROM und u JOIN h0 ON u.src = h0.id
    WHERE u.dst NOT IN (SELECT id FROM h0)
),
h2 AS (
    SELECT DISTINCT u.dst AS id FROM und u JOIN h1 ON u.src = h1.id
    WHERE u.dst NOT IN (SELECT id FROM h0) AND u.dst NOT IN (SELECT id FROM h1)
),
h3 AS (
    SELECT DISTINCT u.dst AS id FROM und u JOIN h2 ON u.src = h2.id
    WHERE u.dst NOT IN (SELECT id FROM h0) AND u.dst NOT IN (SELECT id FROM h1)
      AND u.dst NOT IN (SELECT id FROM h2)
)
SELECT id, CAST(0 AS INTEGER) AS hops FROM h0
UNION ALL SELECT id, 1 FROM h1
UNION ALL SELECT id, 2 FROM h2
UNION ALL SELECT id, 3 FROM h3
"""


def graph_path_enumeration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-PATH var-length expansion (exact Neo4j cardinality for
    ``MATCH p = (s)-[:sharesDNA*2..3]-(b) RETURN p``): one row per distinct
    path under relationship-uniqueness, undirected, from a 1-in-20 seed
    sample (paths explode combinatorially -- the sample keeps the oracle
    join tractable while still exercising ~100k paths at sf0.01). The
    oracle unrolls the two frontier joins as plain chained CTEs with
    explicit per-hop relationship-id disequalities. The path array is
    serialized to a '->'-joined string on both sides (driver contract:
    no list cells in results)."""
    p = t(spark, sf_dir, "part")
    seeds = (
        p.filter(
            (F.col("p_type") == "ECONOMY") & (F.col("p_partkey") % 20 == 0)
        )
        .select(F.concat(F.lit("P"), F.col("p_partkey")).alias("id"))
        .distinct()
    )
    return G.var_length_paths(
        seeds,
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD),
        lo=2,
        hi=3,
        threshold=GRAPH_THRESHOLD,
        directed=False,
    ).withColumn("path", arr_str("path"))


GRAPH_PATHS_SQL = f"""
WITH edges AS ({GRAPH_EDGES_SQL}),
fe AS (SELECT src, dst FROM edges WHERE distance <= {GRAPH_THRESHOLD}),
und AS (
    SELECT src, dst,
           LEAST(src, dst) || '|' || GREATEST(src, dst) AS rid FROM fe
    UNION ALL
    SELECT dst AS src, src AS dst,
           LEAST(src, dst) || '|' || GREATEST(src, dst) AS rid FROM fe
),
seeds AS (
    SELECT DISTINCT 'P' || p_partkey AS id FROM part
    WHERE p_type = 'ECONOMY' AND p_partkey % 20 = 0
),
p2 AS (
    SELECT s.id AS n0, u1.dst AS n1, u2.dst AS n2, u1.rid AS r1, u2.rid AS r2
    FROM seeds s
    JOIN und u1 ON u1.src = s.id
    JOIN und u2 ON u2.src = u1.dst AND u2.rid <> u1.rid
),
p3 AS (
    SELECT p.n0, p.n1, p.n2, u3.dst AS n3
    FROM p2 p
    JOIN und u3 ON u3.src = p.n2 AND u3.rid <> p.r1 AND u3.rid <> p.r2
)
SELECT n0 AS src, n2 AS dst, array_to_string([n0, n1, n2], '->') AS path,
       CAST(2 AS INTEGER) AS hops
FROM p2
UNION ALL
SELECT n0, n3, array_to_string([n0, n1, n2, n3], '->'), 3 FROM p3
"""


def graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic single shortest path per reachable pair (the Neo4j
    ``shortestPath`` surface, mode='one'): level-synchronous BFS carrying
    paths, then the lexicographically-smallest path per (src, dst) — the
    deterministic stand-in for Neo4j's arbitrary pick, identical array
    ordering in both engines. Oracle: unrolled BFS levels with
    NOT-IN-earlier-level disequalities + GROUP BY MIN(path)."""
    p = t(spark, sf_dir, "part")
    seeds = (
        p.filter(
            (F.col("p_type") == "ECONOMY") & (F.col("p_partkey") % 20 == 0)
        )
        .select(F.concat(F.lit("P"), F.col("p_partkey")).alias("id"))
        .distinct()
    )
    return G.shortest_paths(
        seeds,
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD),
        max_hops=3,
        threshold=GRAPH_THRESHOLD,
        directed=False,
        mode="one",
    ).withColumn("path", arr_str("path"))


GRAPH_SHORTEST_SQL = f"""
WITH edges AS ({GRAPH_EDGES_SQL}),
fe AS (SELECT src, dst FROM edges WHERE distance <= {GRAPH_THRESHOLD}),
und AS (
    SELECT src, dst FROM fe
    UNION ALL
    SELECT dst AS src, src AS dst FROM fe
),
seeds AS (
    SELECT DISTINCT 'P' || p_partkey AS id FROM part
    WHERE p_type = 'ECONOMY' AND p_partkey % 20 = 0
),
p1 AS (
    SELECT s.id AS n0, u.dst AS n1 FROM seeds s JOIN und u ON u.src = s.id
    WHERE u.dst <> s.id
),
v1 AS (SELECT DISTINCT n0, n1 AS v FROM p1),
p2 AS (
    SELECT p.n0, p.n1, u.dst AS n2 FROM p1 p JOIN und u ON u.src = p.n1
    WHERE u.dst <> p.n0
      AND NOT EXISTS (SELECT 1 FROM v1 WHERE v1.n0 = p.n0 AND v1.v = u.dst)
),
v2 AS (SELECT DISTINCT n0, n2 AS v FROM p2),
p3 AS (
    SELECT p.n0, p.n1, p.n2, u.dst AS n3 FROM p2 p JOIN und u ON u.src = p.n2
    WHERE u.dst <> p.n0
      AND NOT EXISTS (SELECT 1 FROM v1 WHERE v1.n0 = p.n0 AND v1.v = u.dst)
      AND NOT EXISTS (SELECT 1 FROM v2 WHERE v2.n0 = p.n0 AND v2.v = u.dst)
),
allp AS (
    SELECT n0 AS src, n1 AS dst, [n0, n1] AS path FROM p1
    UNION ALL SELECT n0, n2, [n0, n1, n2] FROM p2
    UNION ALL SELECT n0, n3, [n0, n1, n2, n3] FROM p3
)
SELECT src, dst, array_to_string(MIN(path), '->') AS path,
       CAST(len(MIN(path)) - 1 AS INTEGER) AS hops
FROM allp GROUP BY src, dst
"""


def _transition_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition graph: per user, consecutive event types in
    (ts, event_id) order; keep above-average-frequency transitions so the
    graph is sparse enough that motif negation bites."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.lag("event_type").over(w).alias("src"),
        F.col("event_type").alias("dst"),
    ).filter(F.col("src").isNotNull())
    pairs = tr.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        pairs.withColumn("avg_cnt", F.avg("cnt").over(Window.partitionBy()))
        .filter(F.col("cnt") > F.col("avg_cnt"))
        .select("src", "dst", "cnt")
    )


_TRANSITION_SQL = """
    SELECT src, dst, cnt FROM (
        SELECT src, dst, cnt, AVG(cnt) OVER () AS avg_cnt FROM (
            SELECT prev AS src, event_type AS dst,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (
                SELECT event_type,
                       LAG(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS prev
                FROM events
            ) WHERE prev IS NOT NULL GROUP BY 1, 2
        )
    ) WHERE cnt > avg_cnt
"""


def motif_open_wedges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphFrames-style motif finding (the canonical Spark graph
    DataFrame API, graphframe.py): directed open wedges a->b->c with NO
    closing a->c edge — two equi-joins plus one anti-join, over the event
    transition graph."""
    from phageclouds_graphdatabase_spark.graphframe import GraphFrame

    e = _transition_edges(spark, sf_dir)
    v = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    r = GraphFrame(v, e).find("(a)-[e1]->(b); (b)-[e2]->(c); !(a)-[]->(c)")
    return r.select(
        F.col("a")["id"].alias("a_t"),
        F.col("b")["id"].alias("b_t"),
        F.col("c")["id"].alias("c_t"),
        F.col("e1")["cnt"].alias("c1"),
        F.col("e2")["cnt"].alias("c2"),
    )


MOTIF_OPEN_WEDGES_SQL = f"""
WITH eg AS ({_TRANSITION_SQL})
SELECT e1.src AS a_t, e1.dst AS b_t, e2.dst AS c_t,
       e1.cnt AS c1, e2.cnt AS c2
FROM eg e1 JOIN eg e2 ON e2.src = e1.dst
WHERE NOT EXISTS (
    SELECT 1 FROM eg x WHERE x.src = e1.src AND x.dst = e2.dst
)
"""


def motif_co_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-endpoint motif (a)-[e1]->(b); (c)-[e2]->(b) on the bipartite
    derived graph: part pairs sharing a supplier (the node-similarity
    candidate shape) with an ordered tie-break so each pair appears once."""
    from phageclouds_graphdatabase_spark.graphframe import GraphFrame

    e = graph_edges(spark, sf_dir, GRAPH_THRESHOLD).filter(
        F.col("src").startswith("P10")  # prefix cut keeps the self-join small
    )
    v = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    r = GraphFrame(v, e).find("(a)-[e1]->(b); (c)-[e2]->(b)")
    return r.filter(F.col("a")["id"] < F.col("c")["id"]).select(
        F.col("a")["id"].alias("part_a"),
        F.col("c")["id"].alias("part_c"),
        F.col("b")["id"].alias("shared_supplier"),
    )


MOTIF_CO_SUPPLIERS_SQL = f"""
WITH eg AS (
    SELECT src, dst FROM ({GRAPH_EDGES_SQL})
    WHERE distance <= {GRAPH_THRESHOLD} AND src LIKE 'P10%'
)
SELECT e1.src AS part_a, e2.src AS part_c, e1.dst AS shared_supplier
FROM eg e1 JOIN eg e2 ON e1.dst = e2.dst
WHERE e1.src < e2.src
"""


def motif_aggregate_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphFrames ``aggregateMessages`` (the Pregel superstep primitive):
    per node, the sum and count of neighbor sizes over the thresholded
    derived graph, messages flowing both directions in one plan (triplet
    joins -> union fan-out -> map-side-combined aggregation)."""
    from phageclouds_graphdatabase_spark.graphframe import (
        AggregateMessages as AM,
        GraphFrame,
    )

    p = t(spark, sf_dir, "part")
    sup = t(spark, sf_dir, "supplier")
    v = (
        p.select(
            F.concat(F.lit("P"), F.col("p_partkey")).alias("id"),
            F.col("p_size").cast("long").alias("val"),
        )
        .unionByName(
            sup.select(
                F.concat(F.lit("S"), F.col("s_suppkey")).alias("id"),
                F.col("s_nationkey").cast("long").alias("val"),
            )
        )
    )
    e = graph_edges(spark, sf_dir, GRAPH_THRESHOLD)
    g = GraphFrame(v, e)
    return g.aggregateMessages(
        F.sum(AM.msg).alias("nbr_val_sum"),
        sendToSrc=AM.dst["val"],
        sendToDst=AM.src["val"],
    )


MOTIF_AGG_MSG_SQL = f"""
WITH eg AS (
    SELECT src, dst FROM ({GRAPH_EDGES_SQL}) WHERE distance <= {GRAPH_THRESHOLD}
),
v AS (
    SELECT 'P' || p_partkey AS id, CAST(p_size AS BIGINT) AS val FROM part
    UNION ALL
    SELECT 'S' || s_suppkey, CAST(s_nationkey AS BIGINT) FROM supplier
),
msgs AS (
    SELECT e.src AS id, v.val AS msg FROM eg e JOIN v ON e.dst = v.id
    UNION ALL
    SELECT e.dst AS id, v.val AS msg FROM eg e JOIN v ON e.src = v.id
)
SELECT id, CAST(SUM(msg) AS BIGINT) AS nbr_val_sum FROM msgs GROUP BY id
"""


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation, 2 rounds (GraphFrames
    ``labelPropagation`` made reproducible: most-frequent neighbor label,
    ties to the smallest). The oracle unrolls both rounds with a
    fully-ordered ROW_NUMBER window — identical tie-breaking in both
    engines."""
    from phageclouds_graphdatabase_spark.graphframe import GraphFrame

    e = graph_edges(spark, sf_dir, GRAPH_THRESHOLD)
    v = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    return GraphFrame(v, e).labelPropagation(2)


GRAPH_LABEL_PROP_SQL = f"""
WITH eg AS (
    SELECT src, dst FROM ({GRAPH_EDGES_SQL}) WHERE distance <= {GRAPH_THRESHOLD}
),
und AS (
    SELECT src, dst FROM eg UNION ALL SELECT dst AS src, src AS dst FROM eg
),
v AS (SELECT DISTINCT src AS id FROM und),
l0 AS (SELECT id, id AS label FROM v),
c1 AS (
    SELECT u.src AS id, l0.label, COUNT(*) AS n
    FROM und u JOIN l0 ON u.dst = l0.id GROUP BY 1, 2
),
w1 AS (
    SELECT id, label FROM (
        SELECT id, label,
               ROW_NUMBER() OVER (
                   PARTITION BY id ORDER BY n DESC, label ASC
               ) AS rk
        FROM c1
    ) WHERE rk = 1
),
l1 AS (
    SELECT v.id, COALESCE(w1.label, v.id) AS label
    FROM v LEFT JOIN w1 ON v.id = w1.id
),
c2 AS (
    SELECT u.src AS id, l1.label, COUNT(*) AS n
    FROM und u JOIN l1 ON u.dst = l1.id GROUP BY 1, 2
),
w2 AS (
    SELECT id, label FROM (
        SELECT id, label,
               ROW_NUMBER() OVER (
                   PARTITION BY id ORDER BY n DESC, label ASC
               ) AS rk
        FROM c2
    ) WHERE rk = 1
)
SELECT v.id, COALESCE(w2.label, v.id) AS label
FROM v LEFT JOIN w2 ON v.id = w2.id
"""


def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk corpus (graph-embedding training data, W5+W6):
    2 walks per node, 3 steps, undirected thresholded graph; next hop =
    argmin of md5(wid|step|cur|nbr) — cross-engine-reproducible
    pseudo-randomness (identical md5 hex + string ordering), so the
    entire walk corpus hash-matches the unrolled SQL oracle."""
    return G.deterministic_walks(
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD),
        walk_length=3,
        walks_per_node=2,
        threshold=GRAPH_THRESHOLD,
        directed=False,
    ).withColumn("walk", arr_str("walk"))


GRAPH_WALKS_SQL = f"""
WITH fe AS (
    SELECT src, dst FROM ({GRAPH_EDGES_SQL}) WHERE distance <= {GRAPH_THRESHOLD}
),
und AS (
    SELECT src AS u, dst AS v FROM fe UNION ALL SELECT dst AS u, src AS v FROM fe
),
wk AS (
    SELECT id, wid FROM (SELECT DISTINCT u AS id FROM und)
    CROSS JOIN (VALUES (0), (1)) w(wid)
),
s1 AS (
    SELECT id, wid, v AS n1 FROM (
        SELECT wk.id, wk.wid, und.v,
               ROW_NUMBER() OVER (
                   PARTITION BY wk.id, wk.wid
                   ORDER BY md5(CAST(wk.wid AS VARCHAR) || '|1|' || wk.id
                                || '|' || und.v)
               ) AS rn
        FROM wk JOIN und ON und.u = wk.id
    ) WHERE rn = 1
),
s2 AS (
    SELECT id, wid, n1, v AS n2 FROM (
        SELECT s1.id, s1.wid, s1.n1, und.v,
               ROW_NUMBER() OVER (
                   PARTITION BY s1.id, s1.wid
                   ORDER BY md5(CAST(s1.wid AS VARCHAR) || '|2|' || s1.n1
                                || '|' || und.v)
               ) AS rn
        FROM s1 JOIN und ON und.u = s1.n1
    ) WHERE rn = 1
),
s3 AS (
    SELECT id, wid, n1, n2, v AS n3 FROM (
        SELECT s2.id, s2.wid, s2.n1, s2.n2, und.v,
               ROW_NUMBER() OVER (
                   PARTITION BY s2.id, s2.wid
                   ORDER BY md5(CAST(s2.wid AS VARCHAR) || '|3|' || s2.n2
                                || '|' || und.v)
               ) AS rn
        FROM s2 JOIN und ON und.u = s2.n2
    ) WHERE rn = 1
)
SELECT id AS start, wid, array_to_string([id, n1, n2, n3], '->') AS walk FROM s3
"""


def pregel_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-iteration integer-scaled PageRank written as a PREGEL vertex
    program (pregel.py, the GraphFrames graphframes.lib.Pregel API) —
    the second, independent implementation of graph_pagerank's semantics,
    checked against the SAME unrolled SQL oracle. Integer messages
    (pr div od, exact for all values below 2^53) make every superstep
    order-independent."""
    from phageclouds_graphdatabase_spark.graphframe import GraphFrame
    from phageclouds_graphdatabase_spark.pregel import Pregel

    e = graph_edges(spark, sf_dir, GRAPH_THRESHOLD).select("src", "dst")
    v = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .join(
            e.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("od")
            ),
            "id",
            "left_outer",
        )
        .select("id", F.coalesce("od", F.lit(0)).alias("od"))
    )
    ranks = (
        Pregel(GraphFrame(v, e))
        .setMaxIter(2)
        .withVertexColumn(
            "pr",
            F.lit(1_000_000).cast("long"),
            (
                F.lit(150_000)
                + F.floor(
                    F.lit(85) * F.coalesce(Pregel.msg(), F.lit(0)) / F.lit(100)
                )
            ).cast("long"),
        )
        .sendMsgToDst(
            # try_divide: Catalyst may push this projection below the
            # triplet join, where od=0 sink vertices exist -- ANSI division
            # would throw there even though no such triplet row survives
            F.floor(
                F.try_divide(Pregel.src("pr"), Pregel.src("od"))
            ).cast("long")
        )
        .aggMsgs(F.sum(Pregel.msg()))
        .run()
    )
    return ranks.select("id", F.col("pr").alias("pr_scaled"))


def graph_cheapest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded WEIGHTED shortest-path costs (GDS Dijkstra surface):
    min total distance over ≤3-hop undirected paths per (seed, node) pair,
    integer-scaled so the min is exact in both engines. Bellman-Ford
    relaxation (state = reached pairs), NOT path enumeration. Oracle:
    three unrolled relaxation rounds (min over best-so-far ∪ one-more-hop)."""
    p = t(spark, sf_dir, "part")
    seeds = (
        p.filter(
            (F.col("p_type") == "ECONOMY") & (F.col("p_partkey") % 20 == 0)
        )
        .select(F.concat(F.lit("P"), F.col("p_partkey")).alias("id"))
        .distinct()
    )
    return G.cheapest_path_costs(
        seeds,
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD),
        max_hops=3,
        scale=10000.0,
        threshold=GRAPH_THRESHOLD,
        directed=False,
    )


GRAPH_CHEAPEST_SQL = f"""
WITH edges AS ({GRAPH_EDGES_SQL}),
fe AS (
    SELECT src, dst,
           CAST(FLOOR(distance * 10000.0 + 0.5) AS BIGINT) AS w
    FROM edges WHERE distance <= {GRAPH_THRESHOLD}
),
und AS (
    SELECT src AS u, dst AS v, w FROM fe
    UNION ALL
    SELECT dst AS u, src AS v, w FROM fe
),
t0 AS (
    SELECT id AS src, id AS node, CAST(0 AS BIGINT) AS cost
    FROM (
        SELECT DISTINCT 'P' || p_partkey AS id FROM part
        WHERE p_type = 'ECONOMY' AND p_partkey % 20 = 0
    )
),
t1 AS (
    SELECT src, node, MIN(cost) AS cost FROM (
        SELECT src, node, cost FROM t0
        UNION ALL
        SELECT t0.src, und.v AS node, t0.cost + und.w AS cost
        FROM t0 JOIN und ON t0.node = und.u
    ) GROUP BY src, node
),
t2 AS (
    SELECT src, node, MIN(cost) AS cost FROM (
        SELECT src, node, cost FROM t1
        UNION ALL
        SELECT t1.src, und.v AS node, t1.cost + und.w AS cost
        FROM t1 JOIN und ON t1.node = und.u
    ) GROUP BY src, node
),
t3 AS (
    SELECT src, node, MIN(cost) AS cost FROM (
        SELECT src, node, cost FROM t2
        UNION ALL
        SELECT t2.src, und.v AS node, t2.cost + und.w AS cost
        FROM t2 JOIN und ON t2.node = und.u
    ) GROUP BY src, node
)
SELECT src, node AS dst, cost FROM t3 WHERE node <> src
"""


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-iteration integer-scaled PageRank over the thresholded derived
    graph (the GraphX-analytics surface on DataFrames, W6). Integer
    arithmetic makes the iterative result order-independent, hence
    hash-exact against the unrolled SQL oracle."""
    return G.pagerank_scaled(
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD), iterations=2
    )


GRAPH_PAGERANK_SQL = f"""
WITH e AS (
    SELECT src, dst FROM ({GRAPH_EDGES_SQL}) WHERE distance <= {GRAPH_THRESHOLD}
),
n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
od AS (SELECT src AS id, COUNT(*) AS od FROM e GROUP BY src),
c1 AS (
    SELECT e.dst, SUM(1000000 // od.od) AS s
    FROM e JOIN od ON e.src = od.id GROUP BY e.dst
),
p1 AS (
    SELECT n.id, CAST(150000 + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS pr
    FROM n LEFT JOIN c1 ON n.id = c1.dst
),
c2 AS (
    SELECT e.dst, SUM(p1.pr // od.od) AS s
    FROM e JOIN od ON e.src = od.id JOIN p1 ON p1.id = e.src
    GROUP BY e.dst
)
SELECT n.id, CAST(150000 + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS pr_scaled
FROM n LEFT JOIN c2 ON n.id = c2.dst
"""


def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-iteration integer-scaled Katz centrality over the thresholded
    derived graph (W6, the GDS alpha-centrality family — round 4). The
    directed complement of graph_pagerank: in-neighbor mass attenuated by
    alpha = 1/8 per hop WITHOUT out-degree normalization. Integer
    arithmetic keeps the fixed-iteration result order-independent, hence
    hash-exact against the unrolled SQL oracle."""
    return G.katz_centrality_scaled(
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD), iterations=2
    )


GRAPH_KATZ_SQL = f"""
WITH e AS (
    SELECT src, dst FROM ({GRAPH_EDGES_SQL}) WHERE distance <= {GRAPH_THRESHOLD}
),
n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
c1 AS (SELECT dst, SUM(CAST(1000000 AS BIGINT)) AS s FROM e GROUP BY dst),
x1 AS (
    SELECT n.id, CAST(1000000 + (1 * COALESCE(c1.s, 0)) // 8 AS BIGINT) AS k
    FROM n LEFT JOIN c1 ON n.id = c1.dst
),
c2 AS (
    SELECT e.dst, SUM(x1.k) AS s
    FROM e JOIN x1 ON x1.id = e.src GROUP BY e.dst
)
SELECT n.id,
       CAST(1000000 + (1 * COALESCE(c2.s, 0)) // 8 AS BIGINT) AS katz_scaled
FROM n LEFT JOIN c2 ON n.id = c2.dst
"""


def graph_article_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-iteration integer-scaled ArticleRank (round 6 — the GDS proc
    that superseded gds.alpha.katz): the PageRank recurrence with
    out-contributions divided by od + avg_od (avg_od = |E| div |V|,
    integer floor — documented divergence from GDS's float mean), which
    damps low-out-degree endorsements toward the network average.
    Exact-integer throughout, so the unrolled SQL oracle hashes
    bit-identically."""
    return G.article_rank_scaled(
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD), iterations=2
    )


GRAPH_ARTICLE_RANK_SQL = f"""
WITH e AS (
    SELECT src, dst FROM ({GRAPH_EDGES_SQL}) WHERE distance <= {GRAPH_THRESHOLD}
),
n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
avg AS (SELECT (SELECT COUNT(*) FROM e) // (SELECT COUNT(*) FROM n) AS a),
od AS (SELECT src AS id, COUNT(*) AS od FROM e GROUP BY src),
c1 AS (
    SELECT e.dst, SUM(1000000 // (od.od + (SELECT a FROM avg))) AS s
    FROM e JOIN od ON e.src = od.id GROUP BY e.dst
),
p1 AS (
    SELECT n.id, CAST(150000 + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS ar
    FROM n LEFT JOIN c1 ON n.id = c1.dst
),
c2 AS (
    SELECT e.dst, SUM(p1.ar // (od.od + (SELECT a FROM avg))) AS s
    FROM e JOIN od ON e.src = od.id JOIN p1 ON p1.id = e.src
    GROUP BY e.dst
)
SELECT n.id, CAST(150000 + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS ar_scaled
FROM n LEFT JOIN c2 ON n.id = c2.dst
"""


def graph_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-iteration UNNORMALIZED integer eigenvector centrality (round 6 —
    the other gds.alpha.katz successor): score = 1e6 × (number of
    length-2 walks ending at the node), the raw power-iteration
    numerator. GDS L2-normalizes per round (reduction-order-dependent
    floats); the integer power step keeps identical per-round ranks and
    is the oracle-checkable form."""
    return G.eigenvector_scaled(
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD), iterations=2
    )


GRAPH_EIGENVECTOR_SQL = f"""
WITH e AS (
    SELECT src, dst FROM ({GRAPH_EDGES_SQL}) WHERE distance <= {GRAPH_THRESHOLD}
),
n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
c1 AS (SELECT dst, SUM(CAST(1000000 AS BIGINT)) AS s FROM e GROUP BY dst),
x1 AS (
    SELECT n.id, CAST(COALESCE(c1.s, 0) AS BIGINT) AS x
    FROM n LEFT JOIN c1 ON n.id = c1.dst
),
c2 AS (
    SELECT e.dst, SUM(x1.x) AS s
    FROM e JOIN x1 ON x1.id = e.src GROUP BY e.dst
)
SELECT n.id, CAST(COALESCE(c2.s, 0) AS BIGINT) AS eig_scaled
FROM n LEFT JOIN c2 ON n.id = c2.dst
"""


def graph_article_rank_exactavg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArticleRank with avg_mode='exact' (round 7, VERDICT r6 ask #4):
    the TRUE mean out-degree |E|/|V| incorporated as a rational — the
    per-edge contribution is ar·|V| div (od·|V| + |E|), exactly
    floor(ar/(od + |E|/|V|)) — which matches stock GDS's float mean to
    within the one documented truncating div while staying exact-integer
    and reduction-order-free. Narrows COVERAGE.md's articleRank
    divergence to 'default only'."""
    return G.article_rank_scaled(
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD),
        iterations=2,
        avg_mode="exact",
    )


GRAPH_ARTICLE_RANK_EXACTAVG_SQL = f"""
WITH e AS (
    SELECT src, dst FROM ({GRAPH_EDGES_SQL}) WHERE distance <= {GRAPH_THRESHOLD}
),
n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
sc AS (SELECT (SELECT COUNT(*) FROM e) AS ee, (SELECT COUNT(*) FROM n) AS nn),
od AS (SELECT src AS id, COUNT(*) AS od FROM e GROUP BY src),
c1 AS (
    SELECT e.dst,
           SUM((1000000 * (SELECT nn FROM sc))
               // (od.od * (SELECT nn FROM sc) + (SELECT ee FROM sc))) AS s
    FROM e JOIN od ON e.src = od.id GROUP BY e.dst
),
p1 AS (
    SELECT n.id, CAST(150000 + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS ar
    FROM n LEFT JOIN c1 ON n.id = c1.dst
),
c2 AS (
    SELECT e.dst,
           SUM((p1.ar * (SELECT nn FROM sc))
               // (od.od * (SELECT nn FROM sc) + (SELECT ee FROM sc))) AS s
    FROM e JOIN od ON e.src = od.id JOIN p1 ON p1.id = e.src
    GROUP BY e.dst
)
SELECT n.id, CAST(150000 + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS ar_scaled
FROM n LEFT JOIN c2 ON n.id = c2.dst
"""


def graph_eigenvector_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality with normalized=True (round 7, VERDICT r6
    ask #4 — stock-GDS VALUE parity): the unit-L2 double score. Per-round
    L2 normalization only rescales by a positive global scalar, so one
    final normalization of the integer power step is mathematically
    identical to GDS's per-round form; the sum of squares is an exact
    decimal aggregate and the only float ops are one correctly-rounded
    sqrt + one division per row — hash-stable cross-engine. Narrows
    COVERAGE.md's eigenvector divergence to 'default only'."""
    return G.eigenvector_scaled(
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD),
        iterations=2,
        normalized=True,
    )


GRAPH_EIGENVECTOR_NORMALIZED_SQL = f"""
WITH e AS (
    SELECT src, dst FROM ({GRAPH_EDGES_SQL}) WHERE distance <= {GRAPH_THRESHOLD}
),
n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
c1 AS (SELECT dst, SUM(CAST(1000000 AS BIGINT)) AS s FROM e GROUP BY dst),
x1 AS (
    SELECT n.id, CAST(COALESCE(c1.s, 0) AS BIGINT) AS x
    FROM n LEFT JOIN c1 ON n.id = c1.dst
),
c2 AS (
    SELECT e.dst, SUM(x1.x) AS s
    FROM e JOIN x1 ON x1.id = e.src GROUP BY e.dst
),
x2 AS (
    SELECT n.id, CAST(COALESCE(c2.s, 0) AS BIGINT) AS x
    FROM n LEFT JOIN c2 ON n.id = c2.dst
),
ss AS (SELECT SUM(x * x) AS ss FROM x2)
SELECT x2.id,
       CASE WHEN (SELECT ss FROM ss) > 0
            THEN CAST(x2.x AS DOUBLE)
                 / SQRT(CAST((SELECT ss FROM ss) AS DOUBLE))
            ELSE 0.0 END AS eigenvector
FROM x2
"""


def graph_degrees_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node degrees over the induced subgraph (cloud analytics)."""
    return G.degrees(graph_induced_edges(spark, sf_dir)).select(
        "id",
        F.col("out_degree").cast("long").alias("out_degree"),
        F.col("in_degree").cast("long").alias("in_degree"),
        F.col("degree").cast("long").alias("degree"),
    )


GRAPH_DEGREES_SQL = _GRAPH_CTE + """
, o AS (SELECT src AS id, COUNT(*) AS outd FROM induced GROUP BY src),
  i AS (SELECT dst AS id, COUNT(*) AS ind  FROM induced GROUP BY dst)
SELECT COALESCE(o.id, i.id) AS id,
       CAST(COALESCE(outd, 0) AS BIGINT) AS out_degree,
       CAST(COALESCE(ind, 0) AS BIGINT) AS in_degree,
       CAST(COALESCE(outd, 0) + COALESCE(ind, 0) AS BIGINT) AS degree
FROM o FULL OUTER JOIN i ON o.id = i.id
"""


def graph_optional_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 optional attribute join + A4 deterministic last-write-wins dedup:
    each seed node keeps its nearest neighbor, or NULL if none -- the engine
    form of OPTIONAL MATCH (a)-[:infects]->(h) followed by dict-update dedup
    (/root/reference/phageclouds_gdb_host.py:61-62,67-75)."""
    seeds = graph_seeds(spark, sf_dir)
    edges = graph_edges(spark, sf_dir, GRAPH_THRESHOLD)
    joined = seeds.join(edges, seeds["id"] == edges["src"], "left_outer")
    w = Window.partitionBy("id").orderBy(F.col("distance").asc_nulls_last(), F.col("dst").asc_nulls_last())
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", F.col("dst").alias("nearest"), "distance")
    )


GRAPH_OPTIONAL_SQL = _GRAPH_CTE + f"""
, j AS (
    SELECT s.id, e.dst, e.distance,
           row_number() OVER (PARTITION BY s.id
                              ORDER BY e.distance ASC NULLS LAST, e.dst ASC NULLS LAST) AS rn
    FROM seeds s
    LEFT JOIN (SELECT * FROM edges WHERE distance <= {GRAPH_THRESHOLD}) e ON s.id = e.src
)
SELECT id, dst AS nearest, distance FROM j WHERE rn = 1
"""


def graph_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 connected components ("phage clouds") over the thresholded induced
    subgraph; label = min node id in the component (deterministic). Spark
    side is the iterative hash-min loop in operators/graph.py; the oracle is
    a recursive-CTE reachability closure (viable at sf0.01 scale only)."""
    seeds = graph_seeds(spark, sf_dir)
    edges = graph_edges(spark, sf_dir, GRAPH_THRESHOLD).cache()
    ns = G.expand(seeds, edges, GRAPH_THRESHOLD).cache()
    # cache: the components operator reads the induced edges twice (the
    # small-graph probe, then the union-find collect or round loop).
    induced = G.induced_subgraph(ns, edges, GRAPH_THRESHOLD).cache()
    return G.connected_components(induced, nodes=ns)


def graph_components_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL component maintenance (streaming-graph ingestion, W6):
    components over the distance <= 0.015 induced edges first, then fold
    the (0.015, 0.02] batch in with operators/graph.py merge_components —
    label-level merging on a batch-sized label graph, no recompute. The
    oracle is the BATCH recompute over the full thresholded graph
    (GRAPH_COMPONENTS_SQL verbatim): exactness of the incremental path is
    the whole point."""
    seeds = graph_seeds(spark, sf_dir)
    edges = graph_edges(spark, sf_dir, GRAPH_THRESHOLD).cache()
    ns = G.expand(seeds, edges, GRAPH_THRESHOLD).cache()
    induced = G.induced_subgraph(ns, edges, GRAPH_THRESHOLD).cache()
    old = induced.filter(F.col("distance") <= 0.015)
    new = induced.filter(F.col("distance") > 0.015)
    m0 = G.connected_components(old, nodes=ns)
    return G.merge_components(m0, new)


# Fully-inlined subqueries (no sibling CTEs -- see _GRAPH_CTE note on the
# DuckDB WITH RECURSIVE hazard).
_EDGES_SUB = f"(SELECT * FROM ({GRAPH_EDGES_SQL}) _e)"
_SEEDS_SUB = f"(SELECT * FROM ({GRAPH_SEEDS_SQL}) _s)"
_NODESET_SUB = f"""(
    SELECT id FROM {_SEEDS_SUB} seeds
    UNION
    SELECT e.dst AS id FROM {_EDGES_SUB} e JOIN {_SEEDS_SUB} s ON e.src = s.id
    WHERE e.distance <= {GRAPH_THRESHOLD}
)"""
_INDUCED_SUB = f"""(
    SELECT e.src, e.dst, e.distance
    FROM {_EDGES_SUB} e
    JOIN {_NODESET_SUB} a ON e.src = a.id
    JOIN {_NODESET_SUB} b ON e.dst = b.id
    WHERE e.distance <= {GRAPH_THRESHOLD}
)"""

GRAPH_COMPONENTS_SQL = f"""
WITH RECURSIVE reach(id, nbr) AS (
    SELECT id, id FROM {_NODESET_SUB} ns
    UNION
    SELECT r.id, u.b
    FROM reach r JOIN (
        SELECT src AS a, dst AS b FROM {_INDUCED_SUB} i1
        UNION
        SELECT dst AS a, src AS b FROM {_INDUCED_SUB} i2
    ) u ON r.nbr = u.a
)
SELECT id, MIN(nbr) AS component FROM reach GROUP BY id
"""


# --------------------------------------------------------------------------
# Text analysis (W5: token stats, quality, lang-id)
# --------------------------------------------------------------------------

def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (W6): iterative peel until every surviving node
    keeps undirected degree >= 2 -- the dense-cloud trim. Fixed 3-round mode
    here so the DuckDB oracle can mirror the peel round-for-round (the peel
    converges in round 1 on this graph at the checked scale factors;
    operators/graph.py k_core also offers the run-to-fixpoint form)."""
    edges = graph_edges(spark, sf_dir, GRAPH_THRESHOLD)
    return G.k_core(edges, 2, rounds=3).withColumn(
        "degree", F.col("degree").cast("long")
    )


GRAPH_K_CORE_SQL = f"""
WITH fedges AS (
    SELECT src, dst FROM ({GRAPH_EDGES_SQL}) e0 WHERE distance <= {GRAPH_THRESHOLD}
),
und AS (SELECT src, dst FROM fedges UNION ALL SELECT dst, src FROM fedges),
l0 AS (SELECT src, dst FROM und),
k1 AS (SELECT src AS id FROM l0 GROUP BY src HAVING COUNT(*) >= 2),
l1 AS (SELECT e.src, e.dst FROM l0 e JOIN k1 a ON e.src = a.id JOIN k1 b ON e.dst = b.id),
k2 AS (SELECT src AS id FROM l1 GROUP BY src HAVING COUNT(*) >= 2),
l2 AS (SELECT e.src, e.dst FROM l1 e JOIN k2 a ON e.src = a.id JOIN k2 b ON e.dst = b.id),
k3 AS (SELECT src AS id FROM l2 GROUP BY src HAVING COUNT(*) >= 2),
l3 AS (SELECT e.src, e.dst FROM l2 e JOIN k3 a ON e.src = a.id JOIN k3 b ON e.dst = b.id)
SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS degree
FROM l3 GROUP BY src HAVING COUNT(*) >= 2
"""


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").withColumn("w", tokens(F.col("text")))
    return d.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_txt"),
        (
            F.length(F.regexp_replace(F.col("text"), r"\s", "")).cast("double")
            / F.size("w")
        ).alias("avg_token_len"),
    )


TEXT_TOKEN_STATS_SQL = r"""
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_txt,
       CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
         / len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS avg_token_len
FROM documents
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio + distinct-token ratio + bucket
    (every ratio is exact-int / exact-int so the doubles match the oracle)."""
    d = t(spark, sf_dir, "documents").withColumn("w", tokens(F.col("text")))
    d = d.select(
        "doc_id",
        F.size("w").alias("n_tok"),
        F.size(F.filter(F.col("w"), lambda x: (x == "a") | (x == "the"))).alias("n_stop"),
        F.size(F.array_distinct("w")).alias("n_distinct"),
    )
    d = d.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tokens"),
        (F.col("n_stop").cast("double") / F.col("n_tok")).alias("stop_ratio"),
        (F.col("n_distinct").cast("double") / F.col("n_tok")).alias("distinct_ratio"),
    )
    return d.withColumn(
        "quality",
        F.when(F.col("distinct_ratio") >= 0.5, "rich")
        .when(F.col("stop_ratio") >= 0.15, "stopword-heavy")
        .otherwise("normal"),
    )


TEXT_QUALITY_SQL = r"""
WITH w AS (
    SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
    FROM documents
), c AS (
    SELECT doc_id,
           len(w) AS n_tok,
           len(list_filter(w, x -> x = 'a' OR x = 'the')) AS n_stop,
           len(list_distinct(w)) AS n_distinct
    FROM w
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
       CAST(n_distinct AS DOUBLE) / n_tok AS distinct_ratio,
       CASE WHEN CAST(n_distinct AS DOUBLE) / n_tok >= 0.5 THEN 'rich'
            WHEN CAST(n_stop AS DOUBLE) / n_tok >= 0.15 THEN 'stopword-heavy'
            ELSE 'normal' END AS quality
FROM c
"""


def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-token frequencies with a fixed priority
    tie-break (deterministic; the synthetic corpus carries no real language
    signal, so determinism -- not accuracy -- is what the oracle checks)."""
    d = t(spark, sf_dir, "documents")
    c1 = F.regexp_count(F.col("text"), F.lit(r"\bdata\b"))
    c2 = F.regexp_count(F.col("text"), F.lit(r"\btable\b"))
    c3 = F.regexp_count(F.col("text"), F.lit(r"\brow\b"))
    c4 = F.regexp_count(F.col("text"), F.lit(r"\bwindow\b"))
    return d.select(
        "doc_id",
        c1.cast("long").alias("c_data"),
        F.when((c1 >= c2) & (c1 >= c3) & (c1 >= c4), "en")
        .when((c2 >= c3) & (c2 >= c4), "es")
        .when(c3 >= c4, "de")
        .otherwise("fr")
        .alias("predicted_lang"),
    )


LANG_ID_SQL = r"""
WITH c AS (
    SELECT doc_id,
           len(regexp_extract_all(text, '\bdata\b'))   AS c1,
           len(regexp_extract_all(text, '\btable\b'))  AS c2,
           len(regexp_extract_all(text, '\brow\b'))    AS c3,
           len(regexp_extract_all(text, '\bwindow\b')) AS c4
    FROM documents
)
SELECT doc_id,
       CAST(c1 AS BIGINT) AS c_data,
       CASE WHEN c1 >= c2 AND c1 >= c3 AND c1 >= c4 THEN 'en'
            WHEN c2 >= c3 AND c2 >= c4 THEN 'es'
            WHEN c3 >= c4 THEN 'de'
            ELSE 'fr' END AS predicted_lang
FROM c
"""


# --------------------------------------------------------------------------
# Dedup family (W5: exact, MinHash, SimHash, n-gram Jaccard)
# --------------------------------------------------------------------------

def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text), keep the min doc_id per group
    (at 100 TB this is the standard first dedup pass: one shuffle on a
    64-hex key, heavily combiner-reduced)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""

def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data cleaning pipeline, composed from the
    W5 operators in their production order: language filter (en) ->
    quality filter (drop stopword-heavy) -> exact dedup (min doc_id per
    md5 keeps one copy) -> near-dup removal (n-gram jaccard >= 0.8 drops
    the larger doc_id of each pair). Returns the surviving corpus
    (doc_id, n_tokens). Each stage only shrinks its input, so the
    expensive near-dup join runs over the already-filtered survivor set --
    the ordering that matters at 100 TB."""
    from phageclouds_graphdatabase_spark.operators.dedup import jaccard_pairs_capped

    lang_keep = (
        lang_id_ngram(spark, sf_dir)
        .filter(F.col("predicted_lang") == "en")
        .select("doc_id")
    )
    qual_keep = (
        text_quality_score(spark, sf_dir)
        .filter(F.col("quality") != "stopword-heavy")
        .select("doc_id", "n_tokens")
    )
    s12 = qual_keep.join(lang_keep, "doc_id")
    d = t(spark, sf_dir, "documents").join(
        s12.select("doc_id"), "doc_id", "left_semi"
    )
    keepers = (
        d.groupBy(F.md5(F.col("text")).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s3 = s12.join(keepers, "doc_id", "left_semi")
    sh = _shingled(spark, sf_dir).join(s3.select("doc_id"), "doc_id", "left_semi")
    dropped = (
        jaccard_pairs_capped(sh, min_jaccard=0.8)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return s3.join(dropped, "doc_id", "left_anti")


CORPUS_CLEAN_SQL = r"""
WITH lc AS (
    SELECT doc_id,
           len(regexp_extract_all(text, '\bdata\b'))   AS c1,
           len(regexp_extract_all(text, '\btable\b'))  AS c2,
           len(regexp_extract_all(text, '\brow\b'))    AS c3,
           len(regexp_extract_all(text, '\bwindow\b')) AS c4
    FROM documents
),
lang AS (SELECT doc_id FROM lc WHERE c1 >= c2 AND c1 >= c3 AND c1 >= c4),
w AS (
    SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
    FROM documents
),
qc AS (
    SELECT doc_id, len(w) AS n_tok,
           len(list_filter(w, x -> x = 'a' OR x = 'the')) AS n_stop,
           len(list_distinct(w)) AS n_distinct
    FROM w
),
qual AS (
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens FROM qc
    WHERE CAST(n_distinct AS DOUBLE) / n_tok >= 0.5
       OR CAST(n_stop AS DOUBLE) / n_tok < 0.15
),
s12 AS (SELECT q.doc_id, q.n_tokens FROM qual q JOIN lang l ON q.doc_id = l.doc_id),
keepers AS (
    SELECT MIN(d.doc_id) AS doc_id
    FROM documents d JOIN s12 ON d.doc_id = s12.doc_id
    GROUP BY md5(d.text)
),
s3 AS (SELECT s12.doc_id, s12.n_tokens FROM s12 JOIN keepers k ON s12.doc_id = k.doc_id),
ix AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM w),
shin AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM ix),
dsh AS (
    SELECT DISTINCT s.doc_id, s.shingle FROM shin s JOIN s3 ON s.doc_id = s3.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
dropped AS (
    SELECT DISTINCT doc_b AS doc_id
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.8
)
SELECT s3.doc_id, s3.n_tokens
FROM s3 LEFT JOIN dropped dr ON s3.doc_id = dr.doc_id
WHERE dr.doc_id IS NULL
"""


_MINHASH_K = 4


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) pairs: word 3-grams. Shared by minhash + jaccard.

    Built as posexplode + lead() windows rather than an indexed-access
    transform(sequence(...), i -> w[i] || w[i+1] || w[i+2]): Catalyst
    collapses projections, so each w[i] access re-evaluates the regex
    split -- O(tokens^2) per document (measured 16s vs ~1s at sf0.1).
    The window form splits once per document and shuffles linearly."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        d.select(
            "doc_id",
            F.col("tok").alias("t0"),
            F.lead("tok", 1).over(w).alias("t1"),
            F.lead("tok", 2).over(w).alias("t2"),
        )
        .filter(F.col("t2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "t0", "t1", "t2").alias("shingle"))
    )


_SHINGLE_CTE = r"""
w AS (
    SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
    FROM documents
),
ix AS (
    SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM w
),
shingles AS (
    SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM ix
)
"""


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures: k=4 hash families as md5('<k>|' || shingle), min
    per document. The LSH scale path: signatures -> band -> bucket-join."""
    sh = _shingled(spark, sf_dir)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{k}|"), F.col("shingle")))).alias(f"mh_{k}")
        for k in range(_MINHASH_K)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


MINHASH_SQL = (
    "WITH " + _SHINGLE_CTE + """
SELECT doc_id,
"""
    + ",\n".join(
        f"       MIN(md5('{k}|' || shingle)) AS mh_{k}" for k in range(_MINHASH_K)
    )
    + "\nFROM shingles GROUP BY doc_id"
)


def neardup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard, via a shingle inverted-index
    self-join (the scalable shape: no all-pairs cross join; candidate pairs
    are generated only where at least one shingle collides). All counts are
    integers, so the jaccard double matches the oracle exactly.

    The distinct shingle set feeds THREE plan positions (sizes, both join
    sides); Catalyst reuses none of them (0 ReusedExchange, 4 posexplode
    pipelines in the physical plan), so cache it -- same hazard as the
    graph node sets (plans/suite_extensions.py graph_induced_edges)."""
    sh = _shingled(spark, sf_dir).distinct().cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= 0.03)
        .select("doc_a", "doc_b", "n_shared", "jaccard")
    )


NEARDUP_JACCARD_SQL = (
    "WITH " + _SHINGLE_CTE + """
, dsh AS (SELECT DISTINCT doc_id, shingle FROM shingles),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared,
       CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.03
"""
)

def neardup_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-shape Jaccard near-dup: frequency-capped candidate
    generation (df <= 5) + exact full-set verification
    (operators/dedup.py). Reducer cost bounded by cap^2 per shingle
    regardless of how viral a shingle gets."""
    from phageclouds_graphdatabase_spark.operators.dedup import jaccard_pairs_capped

    return jaccard_pairs_capped(_shingled(spark, sf_dir), 0.03, freq_cap=5)


NEARDUP_JACCARD_CAPPED_SQL = (
    "WITH " + _SHINGLE_CTE + """
, dsh AS (SELECT DISTINCT doc_id, shingle FROM shingles),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
dfreq AS (SELECT shingle, COUNT(*) AS df FROM dsh GROUP BY shingle),
idx AS (SELECT dsh.doc_id, dsh.shingle FROM dsh JOIN dfreq USING (shingle) WHERE df <= 5),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
shared AS (
    SELECT doc_a, doc_b, COUNT(*) AS n_shared
    FROM cand
    JOIN dsh a ON a.doc_id = doc_a
    JOIN dsh b ON b.doc_id = doc_b AND b.shingle = a.shingle
    GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b, n_shared,
       CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.03
"""
)

_SIMHASH_BITS = 16
_HI_NIBBLE = ("8", "9", "a", "b", "c", "d", "e", "f")


def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprint: 16 bits, bit j = sign of the sum over
    tokens of +/-1 driven by hex digit j of md5(token). Token multiplicity
    counts.

    Dictionary-encoded hashing: md5 runs once per DISTINCT token (the
    vocabulary), whose +/-1 contributions broadcast-join onto per-doc token
    counts -- sum(count * contribution) is identical to hashing every
    occurrence, with |vocab| md5 calls instead of |corpus tokens|. The
    right shape whenever token reuse is high (natural language: Heaps' law
    keeps |vocab| << corpus size); for hash-unfriendly corpora where the
    vocabulary itself won't broadcast, the inline form (hash inside the
    per-occurrence projection) is the fallback -- same oracle either way."""
    d = t(spark, sf_dir, "documents").withColumn("w", tokens(F.col("text")))
    tok = d.select("doc_id", F.explode("w").alias("tok"))
    counts = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        d.select(F.explode("w").alias("tok"))
        .distinct()
        .withColumn("h", F.md5(F.col("tok")))
        .select(
            "tok",
            *[
                F.when(
                    F.substring(F.col("h"), j + 1, 1).isin(*_HI_NIBBLE), 1
                ).otherwise(-1).alias(f"c{j}")
                for j in range(_SIMHASH_BITS)
            ],
        )
    )
    sums = (
        counts.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.col("cnt") * F.col(f"c{j}")).alias(f"s{j}")
                for j in range(_SIMHASH_BITS)
            ]
        )
    )
    bits = F.concat(
        *[F.when(F.col(f"s{j}") >= 0, "1").otherwise("0") for j in range(_SIMHASH_BITS)]
    )
    return sums.select("doc_id", bits.alias("simhash"))


_simhash_sums = ",\n".join(
    "       SUM(CASE WHEN substr(md5(tok), {p}, 1) IN ('8','9','a','b','c','d','e','f')"
    " THEN 1 ELSE -1 END) AS s{j}".format(p=j + 1, j=j)
    for j in range(_SIMHASH_BITS)
)
_simhash_bits = " || ".join(
    f"(CASE WHEN s{j} >= 0 THEN '1' ELSE '0' END)" for j in range(_SIMHASH_BITS)
)
SIMHASH_SQL = r"""
WITH w AS (
    SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
    FROM documents
),
tok AS (SELECT doc_id, unnest(w) AS tok FROM w),
sums AS (
    SELECT doc_id,
""" + _simhash_sums + """
    FROM tok GROUP BY doc_id
)
SELECT doc_id, """ + _simhash_bits + """ AS simhash
FROM sums
"""


# --------------------------------------------------------------------------
# Similarity search over embeddings (W5)
# --------------------------------------------------------------------------

_Q_SCALE = "10000.0"


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, q: array<long>) -- embeddings quantized to exact integers so
    dot products are integer-exact cross-engine (floats sum order-dependently;
    integers don't)."""
    e = t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.lit(10000.0) + F.lit(0.5)).cast("long"),
        ).alias("q"),
    )


_QUANT_ELEMS_SQL = f"""
elems AS (
    SELECT vec_id,
           unnest(list_transform(embedding,
                  x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_Q_SCALE} + 0.5) AS BIGINT))) AS qe,
           unnest(range(0, len(embedding))) AS d
    FROM embeddings
),
norms AS (SELECT vec_id, CAST(SUM(qe * qe) AS BIGINT) AS n2 FROM elems GROUP BY vec_id)
"""


def knn_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors (vec_id < 10): the exact
    ANN baseline. zip_with + aggregate keeps the dot product JVM-side; the
    query side is broadcast so the scan of the candidate side streams."""
    # qv feeds 4 join positions (query side, candidate side, both norm
    # tables); Catalyst re-derives each instance, so cache the quantized
    # vectors once -- node-cardinality, safely in memory at any scale the
    # brute-force product itself is viable.
    qv = _quantized(spark, sf_dir).cache()
    norms = qv.select(
        "vec_id",
        F.aggregate("q", F.lit(0).cast("long"), lambda acc, x: acc + x * x).alias("n2"),
    )
    a = qv.filter(F.col("vec_id") < 10).alias("a")
    b = qv.alias("b")
    pairs = (
        F.broadcast(a)
        .join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with(F.col("a.q"), F.col("b.q"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dot"),
        )
    )
    na = norms.select(F.col("vec_id").alias("query_id"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("vec_id").alias("neighbor_id"), F.col("n2").alias("nb2"))
    scored = (
        pairs.join(F.broadcast(na), "query_id")
        .join(nb, "neighbor_id")
        .withColumn(
            "cosine",
            F.col("dot").cast("double")
            / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


KNN_SQL = "WITH " + _QUANT_ELEMS_SQL + """
, dots AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, CAST(SUM(a.qe * b.qe) AS BIGINT) AS dot
    FROM elems a JOIN elems b ON a.d = b.d AND a.vec_id < 10 AND b.vec_id <> a.vec_id
    GROUP BY a.vec_id, b.vec_id
),
scored AS (
    SELECT query_id, neighbor_id,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = query_id
    JOIN norms nb ON nb.vec_id = neighbor_id
)
SELECT query_id, neighbor_id, cosine, rnk
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored) z
WHERE rnk <= 5
"""

_LSH_PLANES = 8


def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketing (the ANN scale path): 8 deterministic pseudo-random
    hyperplanes with +/-1 coefficients derived from md5(plane||'-'||dim);
    bucket = 8-bit sign string of the integer dot products. At 100 TB the
    bucket becomes the shuffle/partition key and top-k runs within buckets."""
    qv = _quantized(spark, sf_dir)
    elems = qv.select("vec_id", F.posexplode("q").alias("d", "qe"))
    planes = (
        spark.range(_LSH_PLANES)
        .select(F.col("id").alias("h"))
        .crossJoin(spark.range(64).select(F.col("id").alias("d")))
        .select(
            "h",
            "d",
            F.when(
                F.substring(
                    F.md5(F.concat(F.col("h").cast("string"), F.lit("-"), F.col("d").cast("string"))),
                    1,
                    1,
                ).isin(*_HI_NIBBLE),
                -1,
            )
            .otherwise(1)
            .cast("long")
            .alias("coef"),
        )
    )
    sums = (
        elems.join(F.broadcast(planes), "d")
        .groupBy("vec_id", "h")
        .agg(F.sum(F.col("qe") * F.col("coef")).alias("s"))
        .withColumn("bit", F.when(F.col("s") >= 0, "1").otherwise("0"))
    )
    return sums.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("h", "bit"))), lambda x: x["bit"]
            ),
            "",
        ).alias("bucket")
    )


ANN_LSH_SQL = "WITH " + _QUANT_ELEMS_SQL + f"""
, planes AS (
    SELECT h.range AS h, d.range AS d,
           CASE WHEN substr(md5(h.range || '-' || d.range), 1, 1)
                     IN ('8','9','a','b','c','d','e','f') THEN -1 ELSE 1 END AS coef
    FROM range({_LSH_PLANES}) h, range(64) d
),
sums AS (
    SELECT e.vec_id, p.h, CAST(SUM(e.qe * p.coef) AS BIGINT) AS s
    FROM elems e JOIN planes p ON e.d = p.d
    GROUP BY e.vec_id, p.h
)
SELECT vec_id,
       string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY h) AS bucket
FROM sums GROUP BY vec_id
"""


_INT8_OVERFETCH = 15  # rescore pool: 3x the final k=5


def ann_int8_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN (the production memory/bandwidth saver):
    per-vector symmetric int8 quantization (scale = max|component|/127),
    candidate generation by int8 dot product over a 3x-overfetched pool,
    then EXACT full-precision rescore of only the pooled candidates and a
    final top-5 cut. At 100 TB the int8 table is 4x smaller than float32 —
    it is the only relation the candidate scan shuffles — while the
    full-precision table is probed just for k*overfetch rows per query (a
    candidate-sized join, not a second full scan). Quantization is derived
    from the integer micro-unit vectors with one double division per
    component (identical expression shape on both engines -> IEEE-identical
    results, the suite's established determinism rule)."""
    qv = _quantized(spark, sf_dir).cache()
    q8 = qv.select(
        "vec_id",
        "q",
        F.greatest(
            F.aggregate(
                "q", F.lit(0).cast("long"),
                lambda acc, x: F.greatest(acc, F.abs(x)),
            ),
            F.lit(1).cast("long"),
        ).alias("mx"),
    ).select(
        "vec_id",
        F.transform(
            "q",
            lambda x: F.floor(
                x.cast("double") * F.lit(127.0) / F.col("mx").cast("double")
            ).cast("long"),
        ).alias("qi"),
    )
    a = q8.filter(F.col("vec_id") < 10).alias("a")
    b = q8.alias("b")
    approx = (
        F.broadcast(a)
        .join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with(F.col("a.qi"), F.col("b.qi"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("ad"),
        )
    )
    w8 = Window.partitionBy("query_id").orderBy(F.col("ad").desc(), "neighbor_id")
    cand = (
        approx.withColumn("arnk", F.row_number().over(w8))
        .filter(F.col("arnk") <= _INT8_OVERFETCH)
        .select("query_id", "neighbor_id")
    )
    norms = qv.select(
        "vec_id",
        F.aggregate("q", F.lit(0).cast("long"), lambda acc, x: acc + x * x).alias("n2"),
    )
    dots = (
        cand.join(
            qv.select(F.col("vec_id").alias("query_id"), F.col("q").alias("qa")),
            "query_id",
        )
        .join(
            qv.select(F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qb")),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with("qa", "qb", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dot"),
        )
    )
    na = norms.select(F.col("vec_id").alias("query_id"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("vec_id").alias("neighbor_id"), F.col("n2").alias("nb2"))
    scored = (
        dots.join(F.broadcast(na), "query_id")
        .join(F.broadcast(nb), "neighbor_id")
        .withColumn(
            "cosine",
            F.col("dot").cast("double")
            / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


ANN_INT8_SQL = "WITH " + _QUANT_ELEMS_SQL + f"""
, mx AS (
    SELECT vec_id, GREATEST(MAX(ABS(qe)), 1) AS mx FROM elems GROUP BY vec_id
),
q8 AS (
    SELECT e.vec_id, e.d,
           CAST(FLOOR(CAST(e.qe AS DOUBLE) * 127.0 / CAST(m.mx AS DOUBLE)) AS BIGINT) AS qi
    FROM elems e JOIN mx m ON m.vec_id = e.vec_id
),
approx AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           CAST(SUM(a.qi * b.qi) AS BIGINT) AS ad
    FROM q8 a JOIN q8 b ON a.d = b.d AND a.vec_id < 10 AND b.vec_id <> a.vec_id
    GROUP BY 1, 2
),
cand AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY ad DESC, neighbor_id) AS arnk
        FROM approx) z
    WHERE arnk <= {_INT8_OVERFETCH}
),
dots AS (
    SELECT c.query_id, c.neighbor_id, CAST(SUM(ea.qe * eb.qe) AS BIGINT) AS dot
    FROM cand c
    JOIN elems ea ON ea.vec_id = c.query_id
    JOIN elems eb ON eb.vec_id = c.neighbor_id AND eb.d = ea.d
    GROUP BY 1, 2
),
scored AS (
    SELECT query_id, neighbor_id,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = query_id
    JOIN norms nb ON nb.vec_id = neighbor_id
)
SELECT query_id, neighbor_id, cosine, rnk
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored) z
WHERE rnk <= 5
"""


# --------------------------------------------------------------------------
# Event analytics (W3 batch shapes; true streaming lives in streaming/)
# --------------------------------------------------------------------------

def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute windows per event type -- identical transformation
    runs under readStream in streaming/events.py."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(cents(F.col("value"))).alias("sum_value_cents"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events", "sum_value_cents")
    )


EVENTS_TUMBLING_SQL = """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR((value) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events
GROUP BY 1, 2
"""


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min length, 5 min slide): each event lands in two
    windows."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )


EVENTS_SLIDING_SQL = """
SELECT time_bucket(INTERVAL '5 minutes', ts) - (k.k * INTERVAL '5 minutes') AS window_start,
       event_type, COUNT(*) AS n_events
FROM events CROSS JOIN (VALUES (0), (1)) AS k(k)
GROUP BY 1, 2
"""


def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user (5-minute gap). Same F.session_window call
    works under Structured Streaming with a watermark."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "5 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("win.start").alias("session_start"), "n_events")
    )


EVENTS_SESSION_SQL = """
WITH x AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
y AS (
    SELECT user_id, ts,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM x
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM y GROUP BY user_id, sid
"""


def events_dedup_earliest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup per (user_id, event_type): the batch twin of
    streaming dropDuplicates-with-watermark (deterministic pinned order)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


EVENTS_DEDUP_SQL = """
SELECT user_id, event_type, event_id, ts
FROM (SELECT user_id, event_type, event_id, ts,
             row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM events) z
WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Multimodal plumbing + pandas UDF (W4)
# --------------------------------------------------------------------------

_MEDIA_SCHEMA = "media_id bigint, kind string, payload_bytes bigint, fingerprint string"
_KINDS = ("image", "audio", "video")


def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing, driven end-to-end through mapInPandas
    (Arrow batches): documents stand in for opaque media payloads; the
    pipeline extracts typed metadata per batch. The real decode step (image
    resize / audio frames) is stubbed in operators/multimodal.py because the
    codec libraries aren't in this runtime -- but the batch shape, schema and
    partitioning here are the production path."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")

    def extract(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "kind": (pdf["doc_id"] % 3).map(dict(enumerate(_KINDS))),
                    "payload_bytes": pdf["text"].str.len().astype("int64"),
                    "fingerprint": pdf["text"].map(
                        lambda s: hashlib.md5(s.encode("utf-8")).hexdigest()
                    ),
                }
            )

    return d.mapInPandas(extract, schema=_MEDIA_SCHEMA)


MULTIMODAL_SQL = """
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(length(text) AS BIGINT) AS payload_bytes,
       md5(text) AS fingerprint
FROM documents
"""


def pandas_udf_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 scalar pandas UDF (Arrow-vectorized -- the sanctioned escape hatch;
    the reference's row-wise df.apply lambdas are the anti-pattern this
    replaces, /root/reference/phageclouds_gdb.py:93)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def n_tokens_udf(texts: pd.Series) -> pd.Series:
        return texts.str.strip().str.split(r"\s+", regex=True).map(len).astype("int64")

    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", n_tokens_udf(F.col("text")).alias("n_tokens_udf"))


PANDAS_UDF_SQL = r"""
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens_udf
FROM documents
"""


_GOPHER_STOPS = ("the", "a", "of", "to", "and", "in", "is", "that")


def gopher_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule document quality filters (Rae et al. 2021 §A1.1): token
    count bounds, mean word length band, alphabetic-word fraction, and
    minimum stop-word count, combined into a keep decision. Every ratio is
    exact-integer / exact-integer so the doubles (and the thresholds on
    them) match the oracle bit-for-bit. Line-based Gopher rules are
    inapplicable here (the synthetic corpus is single-line); the token
    signals are the operative subset. Scales as a single narrow
    projection-and-aggregate per document -- no shuffle beyond the scan."""
    d = t(spark, sf_dir, "documents").withColumn("w", tokens(F.col("text")))
    d = d.select(
        "doc_id",
        F.size("w").alias("n_tok"),
        F.length(F.regexp_replace(F.col("text"), r"\s", "")).alias("n_chars"),
        F.size(F.filter(F.col("w"), lambda x: x.rlike("[A-Za-z]"))).alias("n_alpha"),
        F.size(F.filter(F.col("w"), lambda x: x.isin(*_GOPHER_STOPS))).alias("n_stop"),
    )
    mean_len = F.col("n_chars").cast("double") / F.col("n_tok")
    frac_alpha = F.col("n_alpha").cast("double") / F.col("n_tok")
    keep = (
        F.col("n_tok").between(50, 100000)
        & (mean_len >= 3.0)
        & (mean_len <= 10.0)
        & (frac_alpha >= 0.8)
        & (F.col("n_stop") >= 2)
    )
    return d.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tokens"),
        mean_len.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        F.col("n_stop").cast("long").alias("n_stopwords"),
        keep.cast("int").alias("keep"),
    )


GOPHER_QUALITY_SQL = r"""
WITH w AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w,
           length(regexp_replace(text, '\s', '', 'g')) AS n_chars
    FROM documents
), c AS (
    SELECT doc_id, len(w) AS n_tok, n_chars,
           len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
           len(list_filter(w, x -> x IN ('the','a','of','to','and','in','is','that'))) AS n_stop
    FROM w
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(n_chars AS DOUBLE) / n_tok AS mean_word_len,
       CAST(n_alpha AS DOUBLE) / n_tok AS frac_alpha_words,
       CAST(n_stop AS BIGINT) AS n_stopwords,
       CAST(CASE WHEN n_tok BETWEEN 50 AND 100000
                  AND CAST(n_chars AS DOUBLE) / n_tok >= 3.0
                  AND CAST(n_chars AS DOUBLE) / n_tok <= 10.0
                  AND CAST(n_alpha AS DOUBLE) / n_tok >= 0.8
                  AND n_stop >= 2
             THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM c
"""


def gopher_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-removal signals (Rae et al. 2021 §A1.1): fraction
    of characters in the most frequent word 2-gram and in duplicated word
    5-grams (occurrence-counted), plus the keep decision at the published
    thresholds (0.20 / 0.15). Grams are built with posexplode + lead()
    windows -- the linear-shuffle shape (the indexed-transform alternative
    re-splits per access, the O(n^2) trap noted on ``_shingled``). The
    2-gram argmax tie-breaks deterministically by (count DESC, gram ASC)
    in both engines. Per-doc windows partition by doc_id, so skew is
    bounded by document length at any corpus scale."""
    docs = t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")

    def grams(k: int) -> DataFrame:
        cols = [F.col("tok").alias("t0")] + [
            F.lead("tok", i).over(w).alias(f"t{i}") for i in range(1, k)
        ]
        return (
            base.select("doc_id", *cols)
            .filter(F.col(f"t{k-1}").isNotNull())
            .select(
                "doc_id",
                F.concat_ws(" ", *[f"t{i}" for i in range(k)]).alias("gram"),
            )
        )

    c2 = grams(2).groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    rn = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("gram").asc())
    top2 = (
        c2.withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            (F.col("cnt") * (F.length("gram") - 1)).cast("long").alias("top2_chars"),
        )
    )
    c5 = grams(5).groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    dup5 = (
        c5.filter(F.col("cnt") > 1)
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * (F.length("gram") - 4)).cast("long").alias("dup5_chars")
        )
    )
    out = (
        docs.select(
            "doc_id",
            F.length(F.regexp_replace(F.col("text"), r"\s", "")).alias("n_chars"),
        )
        .join(top2, "doc_id", "left")
        .join(dup5, "doc_id", "left")
        .fillna(0, ["top2_chars", "dup5_chars"])
    )
    top_frac = F.col("top2_chars").cast("double") / F.col("n_chars")
    dup_frac = F.col("dup5_chars").cast("double") / F.col("n_chars")
    return out.select(
        "doc_id",
        top_frac.alias("top_2gram_frac"),
        dup_frac.alias("dup_5gram_frac"),
        ((top_frac <= 0.2) & (dup_frac <= 0.15)).cast("int").alias("keep"),
    )


GOPHER_REPETITION_SQL = r"""
WITH w AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w,
           length(regexp_replace(text, '\s', '', 'g')) AS n_chars
    FROM documents
),
g2 AS (
    SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
    FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM w)
),
c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
top2 AS (
    SELECT doc_id, cnt * (length(gram) - 1) AS top2_chars,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
    FROM c2
),
g5 AS (
    SELECT doc_id,
           w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS gram
    FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM w)
),
c5 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g5 GROUP BY 1, 2),
dup5 AS (
    SELECT doc_id, SUM(cnt * (length(gram) - 4)) AS dup5_chars
    FROM c5 WHERE cnt > 1 GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(COALESCE(t.top2_chars, 0) AS DOUBLE) / n_chars AS top_2gram_frac,
       CAST(COALESCE(d.dup5_chars, 0) AS DOUBLE) / n_chars AS dup_5gram_frac,
       CAST(CASE WHEN CAST(COALESCE(t.top2_chars, 0) AS DOUBLE) / n_chars <= 0.2
                  AND CAST(COALESCE(d.dup5_chars, 0) AS DOUBLE) / n_chars <= 0.15
             THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM w
LEFT JOIN (SELECT doc_id, top2_chars FROM top2 WHERE rn = 1) t USING (doc_id)
LEFT JOIN dup5 d USING (doc_id)
"""


ENTRIES: dict[str, SuiteEntry] = {
    "graph_expand_nodes": SuiteEntry(graph_expand_nodes, GRAPH_EXPAND_SQL, ("J2", "A3", "P5")),
    "graph_induced_edges": SuiteEntry(graph_induced_edges, GRAPH_INDUCED_SQL, ("J3", "P3")),
    "graph_khop_levels": SuiteEntry(graph_khop_levels, GRAPH_KHOP_SQL, ("J2", "W6")),
    "graph_path_enumeration": SuiteEntry(
        graph_path_enumeration, GRAPH_PATHS_SQL, ("J2", "W6")
    ),
    "graph_shortest_paths": SuiteEntry(
        graph_shortest_paths, GRAPH_SHORTEST_SQL, ("J2", "W6")
    ),
    "graph_cheapest_paths": SuiteEntry(
        graph_cheapest_paths, GRAPH_CHEAPEST_SQL, ("J2", "W6", "A6")
    ),
    "motif_open_wedges": SuiteEntry(
        motif_open_wedges, MOTIF_OPEN_WEDGES_SQL, ("J1", "J7", "W6")
    ),
    "motif_aggregate_messages": SuiteEntry(
        motif_aggregate_messages, MOTIF_AGG_MSG_SQL, ("W6", "A6")
    ),
    "pregel_pagerank": SuiteEntry(
        pregel_pagerank, GRAPH_PAGERANK_SQL, ("W6", "A6")
    ),
    "graph_random_walks": SuiteEntry(
        graph_random_walks, GRAPH_WALKS_SQL, ("W5", "W6", "W2")
    ),
    "graph_label_propagation": SuiteEntry(
        graph_label_propagation, GRAPH_LABEL_PROP_SQL, ("W6",)
    ),
    "motif_co_suppliers": SuiteEntry(
        motif_co_suppliers, MOTIF_CO_SUPPLIERS_SQL, ("J1", "W6")
    ),
    "graph_pagerank": SuiteEntry(graph_pagerank, GRAPH_PAGERANK_SQL, ("W6", "A6")),
    "graph_article_rank": SuiteEntry(
        graph_article_rank, GRAPH_ARTICLE_RANK_SQL, ("W6", "A6")
    ),
    "graph_article_rank_exactavg": SuiteEntry(
        graph_article_rank_exactavg, GRAPH_ARTICLE_RANK_EXACTAVG_SQL,
        ("W6", "A6"),
    ),
    "graph_eigenvector_normalized": SuiteEntry(
        graph_eigenvector_normalized, GRAPH_EIGENVECTOR_NORMALIZED_SQL,
        ("W6", "A6"),
    ),
    "graph_eigenvector": SuiteEntry(
        graph_eigenvector, GRAPH_EIGENVECTOR_SQL, ("W6", "A6")
    ),
    "graph_katz_centrality": SuiteEntry(
        graph_katz_centrality, GRAPH_KATZ_SQL, ("W6", "A6")
    ),
    "graph_degrees": SuiteEntry(graph_degrees_q, GRAPH_DEGREES_SQL, ("A6", "J7")),
    "graph_optional_host": SuiteEntry(graph_optional_host, GRAPH_OPTIONAL_SQL, ("J4", "J5", "A4")),
    "graph_components": SuiteEntry(graph_components_q, GRAPH_COMPONENTS_SQL, ("W6",)),
    "graph_components_incremental": SuiteEntry(
        graph_components_incremental, GRAPH_COMPONENTS_SQL, ("W6", "A4")
    ),
    "graph_k_core": SuiteEntry(graph_k_core, GRAPH_K_CORE_SQL, ("W6", "A6")),
    "text_token_stats": SuiteEntry(text_token_stats, TEXT_TOKEN_STATS_SQL, ("W5", "V8")),
    "text_quality_score": SuiteEntry(text_quality_score, TEXT_QUALITY_SQL, ("W5",)),
    "lang_id_ngram": SuiteEntry(lang_id_ngram, LANG_ID_SQL, ("W5",)),
    "dedup_exact_docs": SuiteEntry(dedup_exact_docs, DEDUP_EXACT_SQL, ("W5", "A6")),
    "minhash_signatures": SuiteEntry(minhash_signatures, MINHASH_SQL, ("W5",)),
    "neardup_jaccard_pairs": SuiteEntry(neardup_jaccard_pairs, NEARDUP_JACCARD_SQL, ("W5", "J7")),
    "neardup_jaccard_capped": SuiteEntry(
        neardup_jaccard_capped, NEARDUP_JACCARD_CAPPED_SQL, ("W5", "J7")
    ),
    "corpus_clean_pipeline": SuiteEntry(
        corpus_clean_pipeline, CORPUS_CLEAN_SQL, ("W5", "P8", "A4")
    ),
    "simhash_fingerprint": SuiteEntry(simhash_fingerprint, SIMHASH_SQL, ("W5",)),
    "knn_cosine_bruteforce": SuiteEntry(knn_cosine_bruteforce, KNN_SQL, ("W5",)),
    "ann_lsh_buckets": SuiteEntry(ann_lsh_buckets, ANN_LSH_SQL, ("W5",)),
    "ann_int8_rescore": SuiteEntry(ann_int8_rescore, ANN_INT8_SQL, ("W5", "W1")),
    "events_tumbling_window": SuiteEntry(events_tumbling_window, EVENTS_TUMBLING_SQL, ("W3",)),
    "events_sliding_window": SuiteEntry(events_sliding_window, EVENTS_SLIDING_SQL, ("W3",)),
    "events_session_window": SuiteEntry(events_session_window, EVENTS_SESSION_SQL, ("W3",)),
    "events_dedup_earliest": SuiteEntry(events_dedup_earliest, EVENTS_DEDUP_SQL, ("W3", "A4")),
    "multimodal_metadata": SuiteEntry(multimodal_metadata, MULTIMODAL_SQL, ("W4",)),
    "pandas_udf_token_count": SuiteEntry(pandas_udf_token_count, PANDAS_UDF_SQL, ("W4",)),
    "gopher_quality_filters": SuiteEntry(
        gopher_quality_filters, GOPHER_QUALITY_SQL, ("W5",)
    ),
    "gopher_repetition_signals": SuiteEntry(
        gopher_repetition_signals, GOPHER_REPETITION_SQL, ("W5",)
    ),
}


_SH_BANDS = 4  # 4 bands x 4 bits: hamming <= 3 => >= 1 identical band


def neardup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: pigeonhole band blocking (hamming <= 3 over
    16 bits guarantees one of 4 four-bit bands matches; the verify here
    keeps hamming <= 1 — 16-bit prints over a shared vocabulary
    over-generate at 3) + exact Hamming verify. The verify compares the 16 positions directly — engine-neutral,
    no conv/bit_count dialect differences. Completes the simhash family:
    fingerprint (simhash_fingerprint) -> candidate pairs -> verified dups."""
    fp = simhash_fingerprint(spark, sf_dir).cache()
    width = _SIMHASH_BITS // _SH_BANDS
    bands = fp.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("band"),
                F.substring("simhash", i * width + 1, width).alias("key"),
            )
            for i in range(_SH_BANDS)
        ])).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
        )
        .distinct()
    )
    a, b = fp.alias("a"), fp.alias("b")
    ham = sum(
        F.when(
            F.substring(F.col("a.simhash"), j + 1, 1)
            != F.substring(F.col("b.simhash"), j + 1, 1),
            1,
        ).otherwise(0)
        for j in range(_SIMHASH_BITS)
    )
    return (
        cand.join(a, cand["id_a"] == a["doc_id"])
        .join(b, cand["id_b"] == b["doc_id"])
        .select("id_a", "id_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= 1)
    )


_ham_sql = " + ".join(
    f"(CASE WHEN substr(a.simhash, {j + 1}, 1) <> substr(b.simhash, {j + 1}, 1) THEN 1 ELSE 0 END)"
    for j in range(_SIMHASH_BITS)
)
_band_sql = ", ".join(
    f"(SELECT {i} AS band, substr(simhash, {i * (_SIMHASH_BITS // _SH_BANDS) + 1}, {_SIMHASH_BITS // _SH_BANDS}) AS key)"
    for i in range(_SH_BANDS)
)

NEARDUP_SIMHASH_SQL = r"""
WITH w AS (
    SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
    FROM documents
),
tok AS (SELECT doc_id, unnest(w) AS tok FROM w),
sums AS (
    SELECT doc_id,
""" + _simhash_sums + """
    FROM tok GROUP BY doc_id
),
fp AS (SELECT doc_id, """ + _simhash_bits + """ AS simhash FROM sums),
bands AS (
    SELECT doc_id, g.band,
           substr(simhash, g.band * 4 + 1, 4) AS key
    FROM fp, (SELECT unnest([0, 1, 2, 3]) AS band) g
),
cand AS (
    SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
    FROM bands x JOIN bands y
      ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(""" + _ham_sql + """ AS BIGINT) AS hamming
FROM cand c
JOIN fp a ON a.doc_id = c.id_a
JOIN fp b ON b.doc_id = c.id_b
WHERE """ + _ham_sql + """ <= 1
"""


ENTRIES.update({
    "neardup_simhash_hamming": SuiteEntry(
        neardup_simhash_hamming, NEARDUP_SIMHASH_SQL, ("W5", "J7")
    ),
})


def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: the Jaccard pair graph's connected
    components pick one canonical doc per duplicate cluster (min doc_id) —
    the decision step that turns pairwise dedup signals into keep/drop
    actions, and the piece that ties the graph engine (W6 components) into
    the text pipeline. Docs with no near-dup are their own canonical."""
    pairs = neardup_jaccard_pairs(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    nodes = t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    comp = G.connected_components(edges, nodes=nodes)
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").cast("long").alias("canonical"),
        (F.col("component") == F.col("id")).alias("is_canonical"),
    )


_PAIRS_SUB = "(" + NEARDUP_JACCARD_SQL + ")"

DEDUP_CLUSTER_SQL = f"""
WITH RECURSIVE reach(id, nbr) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.id, u.b
    FROM reach r JOIN (
        SELECT doc_a AS a, doc_b AS b FROM {_PAIRS_SUB} p1
        UNION
        SELECT doc_b AS a, doc_a AS b FROM {_PAIRS_SUB} p2
    ) u ON r.nbr = u.a
)
SELECT id AS doc_id, MIN(nbr) AS canonical,
       (MIN(nbr) = id) AS is_canonical
FROM reach GROUP BY id
"""


def embedding_centroids_bylabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid accumulators over the embedding column: exact
    integer sums of quantized components plus counts (division to a mean
    happens at the consumer — float means are order-dependent, integer sums
    aren't). The vector-aggregation shape: posexplode to (label, dim),
    map-side partial sums, one shuffle keyed by (label, dim)."""
    e = t(spark, sf_dir, "embeddings")
    from phageclouds_graphdatabase_spark.plans._suite_helpers import quant

    exploded = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select("label", (F.col("pos") + 1).alias("dim"), quant(F.col("v")).alias("q"))
    return exploded.groupBy("label", "dim").agg(
        F.sum("q").alias("sum_q"),
        F.count(F.lit(1)).alias("n"),
    )


EMBEDDING_CENTROIDS_SQL = """
WITH ix AS (
    SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS dim
    FROM embeddings
)
SELECT label, dim,
       CAST(SUM(CAST(FLOOR(CAST(embedding[dim] AS DOUBLE) * 10000.0 + 0.5)
                     AS BIGINT)) AS BIGINT) AS sum_q,
       CAST(COUNT(*) AS BIGINT) AS n
FROM ix GROUP BY label, dim
"""


ENTRIES.update({
    "dedup_cluster_canonical": SuiteEntry(
        dedup_cluster_canonical, DEDUP_CLUSTER_SQL, ("W5", "W6", "A4")
    ),
    "embedding_centroids_bylabel": SuiteEntry(
        embedding_centroids_bylabel, EMBEDDING_CENTROIDS_SQL, ("W5", "A6")
    ),
})


# --------------------------------------------------------------------------
# Strongly connected components (W6): the directed sibling of
# graph_components. The test graph is a deterministic functional graph over
# doc_ids -- x -> (x^2+1) mod M for every doc plus x -> (17x+3) mod M for
# every 7th -- which yields a rich mix of multi-node cycles, rho-shaped
# tails, and singleton SCCs. The oracle is the textbook definition run to
# completion: recursive transitive closure, mutual-reachability pairs,
# label = MIN id of the mutual set (every subquery inlined: DuckDB 1.0
# mis-evaluates non-recursive CTE siblings of WITH RECURSIVE).
# --------------------------------------------------------------------------

def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    m = docs.agg((F.max("doc_id") + F.lit(1)).alias("m"))
    base = docs.select("doc_id").crossJoin(F.broadcast(m))
    e1 = base.select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * F.col("doc_id") + 1, F.col("m")).alias("dst"),
    )
    e2 = base.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 17 + 3, F.col("m")).alias("dst"),
    )
    res = G.strongly_connected_components(
        e1.unionByName(e2), docs.select(F.col("doc_id").alias("id"))
    )
    return res.select(
        F.col("id").cast("long").alias("id"),
        F.col("scc").cast("long").alias("scc"),
    )


GRAPH_SCC_SQL = """
WITH RECURSIVE reach(src, dst) AS (
    SELECT src, dst FROM (
        SELECT doc_id AS src,
               (doc_id * doc_id + 1) % (SELECT MAX(doc_id) + 1 FROM documents) AS dst
        FROM documents
        UNION ALL
        SELECT doc_id,
               (doc_id * 17 + 3) % (SELECT MAX(doc_id) + 1 FROM documents)
        FROM documents WHERE doc_id % 7 = 0
    )
    UNION
    SELECT r.src, e.dst FROM reach r JOIN (
        SELECT doc_id AS src,
               (doc_id * doc_id + 1) % (SELECT MAX(doc_id) + 1 FROM documents) AS dst
        FROM documents
        UNION ALL
        SELECT doc_id,
               (doc_id * 17 + 3) % (SELECT MAX(doc_id) + 1 FROM documents)
        FROM documents WHERE doc_id % 7 = 0
    ) e ON r.dst = e.src
)
SELECT n.id,
       CAST(MIN(LEAST(n.id, COALESCE(m.w, n.id))) AS BIGINT) AS scc
FROM (SELECT doc_id AS id FROM documents) n
LEFT JOIN (
    SELECT a.src AS v, a.dst AS w
    FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
) m ON m.v = n.id
GROUP BY n.id
"""


ENTRIES.update({
    "graph_scc": SuiteEntry(graph_scc, GRAPH_SCC_SQL, ("W6",)),
})


def graph_scc_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condensation DAG of the SCC decomposition: one node per SCC, a
    distinct edge per cross-SCC original edge, plus fan-in/out counts --
    the artifact dependency schedulers consume. Two broadcast joins of the
    (tiny) label map against the edge list."""
    docs = t(spark, sf_dir, "documents")
    m = docs.agg((F.max("doc_id") + F.lit(1)).alias("m"))
    base = docs.select("doc_id").crossJoin(F.broadcast(m))
    e1 = base.select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * F.col("doc_id") + 1, F.col("m")).alias("dst"),
    )
    e2 = base.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 17 + 3, F.col("m")).alias("dst"),
    )
    edges = e1.unionByName(e2)
    labels = G.strongly_connected_components(
        edges, docs.select(F.col("doc_id").alias("id"))
    )
    cond = (
        edges.join(
            labels.select(F.col("id").alias("src"), F.col("scc").alias("src_scc")),
            "src",
        )
        .join(
            labels.select(F.col("id").alias("dst"), F.col("scc").alias("dst_scc")),
            "dst",
        )
        .filter(F.col("src_scc") != F.col("dst_scc"))
        .groupBy("src_scc", "dst_scc")
        .agg(F.count("*").cast("long").alias("n_orig_edges"))
    )
    return cond.select(
        F.col("src_scc").cast("long").alias("src_scc"),
        F.col("dst_scc").cast("long").alias("dst_scc"),
        "n_orig_edges",
    )


# Same recursive-closure labeling as GRAPH_SCC_SQL; only `reach` is a CTE
# (recursive CTEs may be referenced repeatedly; NON-recursive siblings are
# what DuckDB 1.0 mis-evaluates, so the label map is inlined twice).
GRAPH_SCC_CONDENSATION_SQL = """
WITH RECURSIVE reach(src, dst) AS (
    SELECT src, dst FROM (
        SELECT doc_id AS src,
               (doc_id * doc_id + 1) % (SELECT MAX(doc_id) + 1 FROM documents) AS dst
        FROM documents
        UNION ALL
        SELECT doc_id,
               (doc_id * 17 + 3) % (SELECT MAX(doc_id) + 1 FROM documents)
        FROM documents WHERE doc_id % 7 = 0
    )
    UNION
    SELECT r.src, e.dst FROM reach r JOIN (
        SELECT doc_id AS src,
               (doc_id * doc_id + 1) % (SELECT MAX(doc_id) + 1 FROM documents) AS dst
        FROM documents
        UNION ALL
        SELECT doc_id,
               (doc_id * 17 + 3) % (SELECT MAX(doc_id) + 1 FROM documents)
        FROM documents WHERE doc_id % 7 = 0
    ) e ON r.dst = e.src
)
SELECT la.scc AS src_scc, lb.scc AS dst_scc,
       CAST(COUNT(*) AS BIGINT) AS n_orig_edges
FROM (
    SELECT doc_id AS src,
           (doc_id * doc_id + 1) % (SELECT MAX(doc_id) + 1 FROM documents) AS dst
    FROM documents
    UNION ALL
    SELECT doc_id,
           (doc_id * 17 + 3) % (SELECT MAX(doc_id) + 1 FROM documents)
    FROM documents WHERE doc_id % 7 = 0
) e
JOIN (
    SELECT n.id,
           CAST(MIN(LEAST(n.id, COALESCE(m.w, n.id))) AS BIGINT) AS scc
    FROM (SELECT doc_id AS id FROM documents) n
    LEFT JOIN (
        SELECT a.src AS v, a.dst AS w
        FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
    ) m ON m.v = n.id
    GROUP BY n.id
) la ON la.id = e.src
JOIN (
    SELECT n.id,
           CAST(MIN(LEAST(n.id, COALESCE(m.w, n.id))) AS BIGINT) AS scc
    FROM (SELECT doc_id AS id FROM documents) n
    LEFT JOIN (
        SELECT a.src AS v, a.dst AS w
        FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
    ) m ON m.v = n.id
    GROUP BY n.id
) lb ON lb.id = e.dst
WHERE la.scc <> lb.scc
GROUP BY la.scc, lb.scc
"""


ENTRIES.update({
    "graph_scc_condensation": SuiteEntry(
        graph_scc_condensation, GRAPH_SCC_CONDENSATION_SQL, ("W6", "A6")
    ),
})


# --------------------------------------------------------------------------
# Product-quantization ANN (round 3): the FAISS IVF-PQ shape
# --------------------------------------------------------------------------

_PQ_M = 4       # subspaces
_PQ_SUB = 16    # dims per subspace (4 x 16 = the 64-dim embedding)
_PQ_K = 16      # codes per subspace codebook
_PQ_NQ = 5      # query vectors (vec_id < 5)
_PQ_TOPK = 10


def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the FAISS IVF-PQ scan shape): each vector
    splits into M=4 subvectors, each encoded as its nearest per-subspace
    codebook entry (codebook = the first 16 vectors' subvectors --
    deterministic; kmeans_ivf_train already proves trained codebooks).
    Queries compute a tiny ADC lookup table (query-subvector -> every code's
    exact integer distance), and the approximate distance of a base vector
    is the SUM of M table lookups over its stored codes.

    100-TB shape: the codebooks and the per-query LUT are KBs -- broadcast;
    the base side is touched ONCE to encode (M codes per vector, 8 bytes vs
    64 floats = 16x compression at rest), and the scan is a broadcast-hash
    join + partial-agg sum per (query, vector): no shuffle of the raw
    embeddings at query time."""
    qv = _quantized(spark, sf_dir)
    d2 = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # one row per (vector, subspace): the subvector
    sub = qv.select(
        "vec_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(m).alias("m"),
                    F.slice("q", m * _PQ_SUB + 1, _PQ_SUB).alias("sub"),
                )
                for m in range(_PQ_M)
            ])
        ).alias("s"),
    ).select("vec_id", "s.m", "s.sub").cache()
    cb = sub.filter(F.col("vec_id") < _PQ_K).select(
        F.col("m").alias("cm"), F.col("vec_id").alias("code"),
        F.col("sub").alias("cvec"),
    )
    # encode: nearest code per (vector, subspace); ties to the smaller code
    enc = (
        sub.join(F.broadcast(cb), sub.m == cb.cm)
        .select("vec_id", "m", "code", d2(F.col("sub"), F.col("cvec")).alias("d2"))
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "code")).alias("b"))
        .select("vec_id", "m", F.col("b.code").alias("code"))
    )
    # ADC lookup table: exact distance from each query subvector to each code
    qsub = sub.filter(F.col("vec_id") < _PQ_NQ).select(
        F.col("vec_id").alias("qid"), F.col("m").alias("qm"),
        F.col("sub").alias("qsub"),
    )
    lut = qsub.join(F.broadcast(cb), qsub.qm == cb.cm).select(
        "qid", "qm", "code", d2(F.col("qsub"), F.col("cvec")).alias("pd2")
    )
    ad = (
        enc.join(F.broadcast(lut), (enc.m == lut.qm) & (enc.code == lut.code))
        .filter(F.col("qid") != F.col("vec_id"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("pd2").alias("adc_d2"))
    )
    w = Window.partitionBy("qid").orderBy("adc_d2", "vec_id")
    return (
        ad.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select(
            F.col("qid").cast("long").alias("qid"),
            F.col("vec_id").cast("long").alias("nbr"),
            F.col("adc_d2").cast("long").alias("adc_d2"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


PQ_ANN_SQL = f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_Q_SCALE} + 0.5) AS BIGINT)) AS q
    FROM embeddings
),
ms AS (SELECT unnest(range(0, {_PQ_M})) AS m),
sub AS (
    SELECT q.vec_id, ms.m,
           list_slice(q.q, ms.m * {_PQ_SUB} + 1, ms.m * {_PQ_SUB} + {_PQ_SUB}) AS sub
    FROM q, ms
),
cb AS (SELECT m AS cm, vec_id AS code, sub AS cvec FROM sub WHERE vec_id < {_PQ_K}),
pairs AS (
    SELECT s.vec_id, s.m, c.code,
           CAST(list_sum(list_transform(range(1, {_PQ_SUB} + 1),
                i -> (s.sub[i] - c.cvec[i]) * (s.sub[i] - c.cvec[i]))) AS BIGINT) AS d2
    FROM sub s JOIN cb c ON c.cm = s.m
),
enc AS (
    SELECT vec_id, m, code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn
        FROM pairs) z
    WHERE rn = 1
),
lut AS (
    SELECT vec_id AS qid, m AS qm, code, d2 AS pd2
    FROM pairs WHERE vec_id < {_PQ_NQ}
),
ad AS (
    SELECT l.qid, e.vec_id, CAST(SUM(l.pd2) AS BIGINT) AS adc_d2
    FROM enc e JOIN lut l ON l.qm = e.m AND l.code = e.code
    WHERE l.qid <> e.vec_id
    GROUP BY l.qid, e.vec_id
)
SELECT qid, vec_id AS nbr, adc_d2, CAST(rank AS BIGINT) AS rank FROM (
    SELECT qid, vec_id, adc_d2,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_d2, vec_id) AS rank
    FROM ad) z
WHERE rank <= {_PQ_TOPK}
"""


ENTRIES.update({
    "pq_ann_topk": SuiteEntry(pq_ann_topk, PQ_ANN_SQL, ("W5",)),
})


def variant_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT ingestion: ``parse_json`` turns the events.props JSON
    string into a VariantType column once, then typed ``variant_get`` /
    ``try_variant_get`` extractions aggregate JVM-side. At 100 TB this is
    the semi-structured hot path: variant decode happens in the scan
    projection (no Python, no per-row JSON re-parse per field), and the
    grouped aggregation is an ordinary partial-agg shuffle on event_type."""
    ev = t(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    k = F.variant_get("v", "$.k", "bigint")
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(k).cast("long").alias("sum_k"),
        F.min(k).cast("long").alias("min_k"),
        F.max(k).cast("long").alias("max_k"),
        # try_variant_get of an absent path is NULL; count() skips NULLs
        F.count(F.try_variant_get("v", "$.missing", "bigint"))
        .cast("long")
        .alias("n_missing"),
    )


VARIANT_PROPS_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k,
       CAST(COUNT(CASE WHEN json_extract(props, '$.missing') IS NOT NULL
                       THEN 1 END) AS BIGINT) AS n_missing
FROM events
GROUP BY event_type
"""


ENTRIES.update({
    "variant_json_props": SuiteEntry(variant_json_props, VARIANT_PROPS_SQL, ("W4", "V8")),
})


def graph_stress_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled hop-bounded STRESS centrality (round 4 — the
    betweenness-family member that stays integer-EXACT): per node, the
    number of shortest s→t paths through it over sampled root pairs
    within depth 3, sigma_st(v) = sigma(s→v)·sigma(v→t) counted when
    d(s,v)+d(v,t)=d(s,t) (the Brandes pair-dependency numerator;
    betweenness divides by sigma_st — a rational — so stress is the form
    an unrolled SQL oracle can hash bit-exactly, the same trade harmonic
    makes vs closeness). One sigma-carrying multi-source BFS
    (operators/graph.py bfs_sigma, state O(|roots| × reach)) + a
    three-way join keyed by the midpoint — no all-pairs stage."""
    roots = (
        t(spark, sf_dir, "part")
        .filter((F.col("p_type") == "ECONOMY") & (F.col("p_partkey") % 32 == 1))
        .select(F.concat(F.lit("P"), F.col("p_partkey")).alias("id"))
        .distinct()
    )
    return G.stress_centrality_sampled(
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD),
        roots,
        max_depth=3,
        threshold=GRAPH_THRESHOLD,
        directed=False,
    )


# Shared sigma-BFS CTE body (edges/roots/3 unrolled sigma levels) used by
# BOTH the stress and betweenness oracles — a single named constant, so a
# rewording cannot silently corrupt one of them (ADVICE r4: the old form
# string-split GRAPH_STRESS_SQL on the literal "pd AS").
_SIGMA_CTE_BODY = f"""
WITH edges AS ({GRAPH_EDGES_SQL}),
und AS (
    SELECT src, dst FROM edges WHERE distance <= {GRAPH_THRESHOLD}
    UNION
    SELECT dst AS src, src AS dst FROM edges WHERE distance <= {GRAPH_THRESHOLD}
),
r AS (SELECT DISTINCT 'P' || p_partkey AS id FROM part
      WHERE p_type = 'ECONOMY' AND p_partkey % 32 = 1),
s0 AS (SELECT id AS root, id, CAST(1 AS BIGINT) AS sig FROM r),
s1 AS (
    SELECT s0.root, u.dst AS id, CAST(SUM(s0.sig) AS BIGINT) AS sig
    FROM s0 JOIN und u ON u.src = s0.id
    WHERE u.dst <> s0.root
    GROUP BY s0.root, u.dst
),
s2 AS (
    SELECT s1.root, u.dst AS id, CAST(SUM(s1.sig) AS BIGINT) AS sig
    FROM s1 JOIN und u ON u.src = s1.id
    WHERE u.dst <> s1.root
      AND NOT EXISTS (SELECT 1 FROM s1 z WHERE z.root = s1.root AND z.id = u.dst)
    GROUP BY s1.root, u.dst
),
s3 AS (
    SELECT s2.root, u.dst AS id, CAST(SUM(s2.sig) AS BIGINT) AS sig
    FROM s2 JOIN und u ON u.src = s2.id
    WHERE u.dst <> s2.root
      AND NOT EXISTS (SELECT 1 FROM s1 z WHERE z.root = s2.root AND z.id = u.dst)
      AND NOT EXISTS (SELECT 1 FROM s2 z WHERE z.root = s2.root AND z.id = u.dst)
    GROUP BY s2.root, u.dst
),
sig AS (
    SELECT root, id, 1 AS d, sig FROM s1
    UNION ALL SELECT root, id, 2, sig FROM s2
    UNION ALL SELECT root, id, 3, sig FROM s3
),
"""

GRAPH_STRESS_SQL = _SIGMA_CTE_BODY + """pd AS (
    SELECT root AS s, id AS t, d AS dst_d FROM sig
    WHERE id IN (SELECT id FROM r) AND root < id
)
SELECT a.id, CAST(SUM(a.sig * b.sig) AS BIGINT) AS stress
FROM pd
JOIN sig a ON a.root = pd.s
JOIN sig b ON b.root = pd.t AND b.id = a.id
WHERE a.d + b.d = pd.dst_d AND a.id <> pd.s AND a.id <> pd.t
GROUP BY a.id
"""


def graph_betweenness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled hop-bounded BETWEENNESS (round 4) in fixed-point integers:
    each pair's Brandes dependency sigma(s→v)·sigma(v→t)/sigma(s→t) is
    floored PER TERM at 1e-6 precision ((sa·sb·1e6) div sigma_st), so the
    sum is exact integers and hash-stable against the unrolled SQL oracle
    (error vs true betweenness < #pairs/1e6 — the documented fixed-point
    trade). Shares the sigma-BFS + midpoint join with
    graph_stress_centrality."""
    roots = (
        t(spark, sf_dir, "part")
        .filter((F.col("p_type") == "ECONOMY") & (F.col("p_partkey") % 32 == 1))
        .select(F.concat(F.lit("P"), F.col("p_partkey")).alias("id"))
        .distinct()
    )
    return G.betweenness_centrality_scaled(
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD),
        roots,
        max_depth=3,
        scale=1_000_000,
        threshold=GRAPH_THRESHOLD,
        directed=False,
    )


GRAPH_BETWEENNESS_SQL = _SIGMA_CTE_BODY + """pd AS (
    SELECT root AS s, id AS t, d AS dst_d, sig AS sig_st FROM sig
    WHERE id IN (SELECT id FROM r) AND root < id
)
SELECT a.id,
       CAST(SUM((a.sig * b.sig * 1000000) // pd.sig_st) AS BIGINT) AS bc_scaled
FROM pd
JOIN sig a ON a.root = pd.s
JOIN sig b ON b.root = pd.t AND b.id = a.id
WHERE a.d + b.d = pd.dst_d AND a.id <> pd.s AND a.id <> pd.t
GROUP BY a.id
"""


def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic centrality (round 3): per-root BFS levels to depth 3
    from the ECONOMY seed sample, then per NODE the sum of 1/d over roots
    that reach it — scaled x6 so 1/1, 1/2, 1/3 become the exact integers
    6, 3, 2 (cross-engine bit-exactness without rationals). Sampling roots
    is THE production closeness/harmonic shape: state stays
    O(|sample| x reach) instead of all-pairs."""
    # deterministic 1/64 subsample of the seed set: |roots| is the state
    # knob of sampled centrality (state = O(|roots| x reach)), and it must
    # not grow linearly with SF — the modulo picks the same logical sample
    # in both engines at any scale
    roots = (
        t(spark, sf_dir, "part")
        .filter((F.col("p_type") == "ECONOMY") & (F.col("p_partkey") % 64 == 1))
        .select(F.concat(F.lit("P"), F.col("p_partkey")).alias("id"))
        .distinct()
    )
    lev = G.multi_source_bfs_levels(
        roots,
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD),
        k=3,
        threshold=GRAPH_THRESHOLD,
        directed=False,
    )
    return lev.groupBy("id").agg(
        F.sum(
            F.when(F.col("d") == 1, 6).when(F.col("d") == 2, 3).otherwise(2)
        )
        .cast("long")
        .alias("h6"),
        F.count(F.lit(1)).cast("long").alias("n_reached"),
    )


GRAPH_HARMONIC_SQL = f"""
WITH edges AS ({GRAPH_EDGES_SQL}),
und AS (
    SELECT src, dst FROM edges WHERE distance <= {GRAPH_THRESHOLD}
    UNION
    SELECT dst AS src, src AS dst FROM edges WHERE distance <= {GRAPH_THRESHOLD}
),
r0 AS (SELECT id AS root, id FROM (
    SELECT DISTINCT 'P' || p_partkey AS id FROM part
    WHERE p_type = 'ECONOMY' AND p_partkey % 64 = 1)),
l1 AS (
    SELECT DISTINCT r.root, u.dst AS id
    FROM r0 r JOIN und u ON u.src = r.id
    WHERE u.dst <> r.root
),
l2 AS (
    SELECT DISTINCT l1.root, u.dst AS id
    FROM l1 JOIN und u ON u.src = l1.id
    WHERE u.dst <> l1.root
      AND NOT EXISTS (SELECT 1 FROM l1 z WHERE z.root = l1.root AND z.id = u.dst)
),
l3 AS (
    SELECT DISTINCT l2.root, u.dst AS id
    FROM l2 JOIN und u ON u.src = l2.id
    WHERE u.dst <> l2.root
      AND NOT EXISTS (SELECT 1 FROM l1 z WHERE z.root = l2.root AND z.id = u.dst)
      AND NOT EXISTS (SELECT 1 FROM l2 z WHERE z.root = l2.root AND z.id = u.dst)
),
lev AS (
    SELECT root, id, 1 AS d FROM l1
    UNION ALL SELECT root, id, 2 FROM l2
    UNION ALL SELECT root, id, 3 FROM l3
)
SELECT id,
       CAST(SUM(CASE d WHEN 1 THEN 6 WHEN 2 THEN 3 ELSE 2 END) AS BIGINT) AS h6,
       CAST(COUNT(*) AS BIGINT) AS n_reached
FROM lev GROUP BY id
"""


def graph_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous Louvain refinement, 2 rounds (round 7 —
    the gds.louvain.stream surface; operators/graph.py louvain_refine):
    every node starts in its own community and moves each round to the
    argmax-modularity-gain neighbor community (exact-integer gains
    2m·e − d·(Σ − [own]·d), ties to smallest community id), synchronously
    on the previous round's labels — the round-unrollable oracle form."""
    return G.louvain_refine(
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD), rounds=2
    )


def _louvain_sql(rounds: int) -> str:
    head = f"""
WITH e0 AS ({GRAPH_EDGES_SQL}),
canon AS MATERIALIZED (
    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM e0 WHERE distance <= {GRAPH_THRESHOLD} AND src <> dst
),
und AS MATERIALIZED (
    SELECT a AS src, b AS dst FROM canon
    UNION ALL SELECT b, a FROM canon
),
mm AS MATERIALIZED (SELECT COUNT(*) AS m FROM canon),
deg AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY src),
l0 AS MATERIALIZED (SELECT id, id AS lab FROM deg)"""
    body = ""
    for i in range(1, rounds + 1):
        p = i - 1
        body += f""",
vol{i} AS MATERIALIZED (
    SELECT l.lab AS c, CAST(SUM(d.d) AS BIGINT) AS vol
    FROM l{p} l JOIN deg d ON d.id = l.id GROUP BY 1
),
cand{i} AS MATERIALIZED (
    SELECT id, c, CAST(SUM(e) AS BIGINT) AS e FROM (
        SELECT u.src AS id, l.lab AS c, COUNT(*) AS e
        FROM und u JOIN l{p} l ON l.id = u.dst GROUP BY 1, 2
        UNION ALL SELECT id, lab AS c, 0 FROM l{p}
    ) z GROUP BY id, c
),
l{i} AS MATERIALIZED (
    SELECT id, c AS lab FROM (
        SELECT cand.id, cand.c,
               row_number() OVER (PARTITION BY cand.id ORDER BY
                   (2 * (SELECT m FROM mm) * cand.e
                    - d.d * (v.vol - CASE WHEN cand.c = l.lab
                                          THEN d.d ELSE 0 END)) DESC,
                   cand.c ASC) AS rn
        FROM cand{i} cand
        JOIN deg d ON d.id = cand.id
        JOIN l{p} l ON l.id = cand.id
        JOIN vol{i} v ON v.c = cand.c
    ) q WHERE rn = 1
)"""
    return head + body + f"\nSELECT id, lab AS label FROM l{rounds}\n"


GRAPH_LOUVAIN_SQL = _louvain_sql(2)


def graph_louvain_multilevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-LEVEL Louvain (round 7): refine 2 rounds, condense communities
    into weighted supernodes (inter-community weights + intra/self-loop
    carry, total weight m invariant), refine the condensed graph 2 more
    weighted rounds, map back. All gains exact integers, so the whole
    two-level computation unrolls into the SQL oracle. NB the oracle's
    CTEs are MATERIALIZED: DuckDB 1.0 inlines plain CTEs per reference,
    and the level-2 chain references each label CTE ~4x — inlining makes
    the unrolled form exponential in depth (observed: the un-hinted
    2-level oracle did not finish; materialized it is linear)."""
    return G.louvain_refine(
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD), rounds=2, levels=2
    )


def _louvain_level2_sql(rounds: int) -> str:
    base = _louvain_sql(rounds)
    head, tail = base.rsplit("\nSELECT id, lab AS label FROM", 1)
    r = rounds
    cond = f""",
sw2 AS MATERIALIZED (
    SELECT la2.lab AS id, CAST(COUNT(*) AS BIGINT) AS sw
    FROM canon c JOIN l{r} la2 ON la2.id = c.a JOIN l{r} lb2 ON lb2.id = c.b
    WHERE la2.lab = lb2.lab GROUP BY 1
),
we2 AS MATERIALIZED (
    SELECT LEAST(la2.lab, lb2.lab) AS a, GREATEST(la2.lab, lb2.lab) AS b,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM canon c JOIN l{r} la2 ON la2.id = c.a JOIN l{r} lb2 ON lb2.id = c.b
    WHERE la2.lab <> lb2.lab GROUP BY 1, 2
),
wund2 AS MATERIALIZED (
    SELECT a AS src, b AS dst, w FROM we2
    UNION ALL SELECT b, a, w FROM we2
),
n2 AS MATERIALIZED (SELECT DISTINCT lab AS id FROM l{r}),
k2 AS MATERIALIZED (
    SELECT n2.id,
           CAST(COALESCE(ws.ws, 0) + 2 * COALESCE(sw2.sw, 0) AS BIGINT) AS d
    FROM n2
    LEFT JOIN (SELECT src AS id, SUM(w) AS ws FROM wund2 GROUP BY 1) ws
      ON ws.id = n2.id
    LEFT JOIN sw2 ON sw2.id = n2.id
),
m0 AS MATERIALIZED (SELECT id, id AS lab FROM k2)"""
    for i in range(1, rounds + 1):
        p = i - 1
        cond += f""",
mvol{i} AS MATERIALIZED (
    SELECT l.lab AS c, CAST(SUM(k.d) AS BIGINT) AS vol
    FROM m{p} l JOIN k2 k ON k.id = l.id GROUP BY 1
),
mcand{i} AS MATERIALIZED (
    SELECT id, c, CAST(SUM(e) AS BIGINT) AS e FROM (
        SELECT u.src AS id, l.lab AS c, SUM(u.w) AS e
        FROM wund2 u JOIN m{p} l ON l.id = u.dst GROUP BY 1, 2
        UNION ALL SELECT id, lab AS c, 0 FROM m{p}
    ) z GROUP BY id, c
),
m{i} AS MATERIALIZED (
    SELECT id, c AS lab FROM (
        SELECT cand.id, cand.c,
               row_number() OVER (PARTITION BY cand.id ORDER BY
                   (2 * (SELECT m FROM mm) * cand.e
                    - k.d * (v.vol - CASE WHEN cand.c = l.lab
                                          THEN k.d ELSE 0 END)) DESC,
                   cand.c ASC) AS rn
        FROM mcand{i} cand
        JOIN k2 k ON k.id = cand.id
        JOIN m{p} l ON l.id = cand.id
        JOIN mvol{i} v ON v.c = cand.c
    ) q WHERE rn = 1
)"""
    return (
        head
        + cond
        + f"\nSELECT n.id, m{rounds}.lab AS label"
        + f"\nFROM l{r} n JOIN m{rounds} ON m{rounds}.id = n.lab\n"
    )


GRAPH_LOUVAIN_ML_SQL = _louvain_level2_sql(2)


def graph_scale_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four value-oracle-able scalers of gds.scaleProperties.stream
    over one integral column (p_size), side by side per id (round 7):
    minmax, mean, center, stdscore — each an exact-integer numerator +
    one IEEE double op (functions/derive.py scale_property)."""
    from phageclouds_graphdatabase_spark.functions import derive

    props = t(spark, sf_dir, "part").select(
        F.concat(F.lit("P"), F.col("p_partkey")).alias("id"),
        F.col("p_size").cast("long").alias("value"),
    )
    out = None
    for s in ("minmax", "mean", "center", "stdscore"):
        d = derive.scale_property(props, s).withColumnRenamed("scaled", s)
        out = d if out is None else out.join(d, "id")
    return out


GRAPH_SCALE_PROPS_SQL = """
WITH props AS (
    SELECT 'P' || p_partkey AS id, CAST(p_size AS BIGINT) AS value FROM part
),
st AS (
    -- HUGEINT (int128) aggregates: the exact-arithmetic twin of the
    -- engine's decimal(38,0) stats (ADVICE r7 — no wrapping longs)
    SELECT MIN(value) AS mn, MAX(value) AS mx,
           CAST(SUM(value) AS HUGEINT) AS s,
           CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(CAST(value AS HUGEINT) * CAST(value AS HUGEINT)) AS q
    FROM props
)
SELECT id,
       CASE WHEN st.mx > st.mn
            THEN CAST(value - st.mn AS DOUBLE) / CAST(st.mx - st.mn AS DOUBLE)
            ELSE 0.0 END AS minmax,
       CASE WHEN st.mx > st.mn
            THEN CAST(value * st.n - st.s AS DOUBLE)
                 / CAST(st.n * (st.mx - st.mn) AS DOUBLE)
            ELSE 0.0 END AS mean,
       CAST(value * st.n - st.s AS DOUBLE) / CAST(st.n AS DOUBLE) AS center,
       CASE WHEN st.n * st.q - st.s * st.s > 0
            THEN CAST(value * st.n - st.s AS DOUBLE)
                 / SQRT(CAST(st.n * st.q - st.s * st.s AS DOUBLE))
            ELSE 0.0 END AS stdscore
FROM props, st
"""


def graph_knn_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 1-D KNN over a scalar property (round 7 — the gds.knn.stream
    surface): value = p_partkey % 97 (heavy ties — the case where the ±k
    positional window with the positional tiebreak must stay exact), k=5,
    similarity 1e6 div (1+|diff|). The Spark side computes the global
    position with the TWO-PHASE prefix count (no single global window
    task); the oracle uses the naive global ROW_NUMBER — identical by
    associativity (operators/ann.py knn_scalar_topk)."""
    from phageclouds_graphdatabase_spark.operators import ann

    props = t(spark, sf_dir, "part").select(
        F.concat(F.lit("P"), F.col("p_partkey")).alias("id"),
        (F.col("p_partkey") % 97).cast("long").alias("value"),
    )
    return ann.knn_scalar_topk(props, k=5)


GRAPH_KNN_SCALAR_SQL = """
WITH props AS (
    SELECT 'P' || p_partkey AS id, CAST(p_partkey % 97 AS BIGINT) AS value
    FROM part
),
pos AS (
    SELECT id, value,
           CAST(row_number() OVER (ORDER BY value, id) AS BIGINT) AS pos
    FROM props
),
cand AS (
    SELECT a.id AS id1, a.value AS v1, b.id AS id2, b.value AS v2,
           abs(a.pos - b.pos) AS posdist
    FROM pos a JOIN pos b
      ON b.pos BETWEEN a.pos - 5 AND a.pos + 5 AND b.pos <> a.pos
),
r AS (
    SELECT id1, id2, abs(v1 - v2) AS diff, posdist,
           row_number() OVER (PARTITION BY id1
                              ORDER BY abs(v1 - v2) ASC, posdist ASC,
                                       id2 ASC) AS rn
    FROM cand
)
SELECT id1, id2, CAST(1000000 // (1 + diff) AS BIGINT) AS sim_scaled
FROM r WHERE rn <= 5
"""


def graph_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled raw closeness centrality (round 7 — the gds.closeness.stream
    surface, sibling of graph_harmonic_centrality): same deterministic
    ECONOMY %64 root sample and depth-3 undirected BFS, then per node
    n_reached·1e6 div sum_d — ONE truncating div of exact longs, so unlike
    harmonic's ×6 scaling it is depth-unbounded. Emits the aggregate
    components too (n_reached, sum_d) so the oracle pins the BFS itself,
    not just the quotient."""
    roots = (
        t(spark, sf_dir, "part")
        .filter((F.col("p_type") == "ECONOMY") & (F.col("p_partkey") % 64 == 1))
        .select(F.concat(F.lit("P"), F.col("p_partkey")).alias("id"))
        .distinct()
    )
    return G.closeness_centrality_scaled(
        roots,
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD),
        k=3,
        threshold=GRAPH_THRESHOLD,
        directed=False,
    )


GRAPH_CLOSENESS_SQL = f"""
WITH edges AS ({GRAPH_EDGES_SQL}),
und AS (
    SELECT src, dst FROM edges WHERE distance <= {GRAPH_THRESHOLD}
    UNION
    SELECT dst AS src, src AS dst FROM edges WHERE distance <= {GRAPH_THRESHOLD}
),
r0 AS (SELECT id AS root, id FROM (
    SELECT DISTINCT 'P' || p_partkey AS id FROM part
    WHERE p_type = 'ECONOMY' AND p_partkey % 64 = 1)),
l1 AS (
    SELECT DISTINCT r.root, u.dst AS id
    FROM r0 r JOIN und u ON u.src = r.id
    WHERE u.dst <> r.root
),
l2 AS (
    SELECT DISTINCT l1.root, u.dst AS id
    FROM l1 JOIN und u ON u.src = l1.id
    WHERE u.dst <> l1.root
      AND NOT EXISTS (SELECT 1 FROM l1 z WHERE z.root = l1.root AND z.id = u.dst)
),
l3 AS (
    SELECT DISTINCT l2.root, u.dst AS id
    FROM l2 JOIN und u ON u.src = l2.id
    WHERE u.dst <> l2.root
      AND NOT EXISTS (SELECT 1 FROM l1 z WHERE z.root = l2.root AND z.id = u.dst)
      AND NOT EXISTS (SELECT 1 FROM l2 z WHERE z.root = l2.root AND z.id = u.dst)
),
lev AS (
    SELECT root, id, 1 AS d FROM l1
    UNION ALL SELECT root, id, 2 FROM l2
    UNION ALL SELECT root, id, 3 FROM l3
),
agg AS (
    SELECT id, CAST(COUNT(*) AS BIGINT) AS n_reached,
           CAST(SUM(d) AS BIGINT) AS sum_d
    FROM lev GROUP BY id
)
SELECT id, CAST((n_reached * 1000000) // sum_d AS BIGINT) AS closeness_scaled,
       n_reached, sum_d
FROM agg
"""


def graph_closeness_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT closeness — the gds.closeness.stream {exact: true} parity
    opt-in (round 8, VERDICT r7 ask #7): ALL-roots BFS to the fixpoint,
    stock's [0,1] float n_reached/sum_d as ONE correctly-rounded double
    division (operators/graph.py closeness_centrality_exact). Scoped to
    the l_partkey % 16 = 1 subgraph (225 nodes / 916 edges at sf0.01 —
    all-roots is O(|V|²) state, exactly why the sampled integer form
    stays the scale default) with engine and oracle BOTH on the depth-8
    budget (measured diameter 6 at sf0.01 — the core_decomposition
    both-budgeted + fixpoint-margin pattern)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_discount") <= F.lit(GRAPH_THRESHOLD))
        & (F.col("l_partkey") % 16 == 1)  # pushed to the parquet scan
    )
    e = li.groupBy(
        F.concat(F.lit("P"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst"),
    ).agg(F.min("l_discount").alias("distance"))
    return G.closeness_centrality_exact(e, max_depth=8, directed=False)


GRAPH_CLOSENESS_EXACT_SQL = f"""
WITH RECURSIVE edges AS ({GRAPH_EDGES_SQL}),
small AS (
    SELECT src, dst FROM edges
    WHERE distance <= {GRAPH_THRESHOLD}
      AND CAST(substr(src, 2) AS BIGINT) % 16 = 1
),
und AS (SELECT src, dst FROM small UNION SELECT dst, src FROM small),
bfs(root, id, d) AS (
    SELECT src AS root, src AS id, 0 FROM und
    UNION
    SELECT b.root, u.dst, b.d + 1
    FROM bfs b JOIN und u ON b.id = u.src
    WHERE b.d < 8
),
-- min-d FIRST (the self pair's min is 0 — filtering d > 0 before MIN
-- would resurrect cycle-revisits like root->y->root at d=2)
md AS (SELECT root, id, MIN(d) AS d FROM bfs GROUP BY root, id),
agg AS (
    SELECT id, CAST(COUNT(*) AS BIGINT) AS n_reached,
           CAST(SUM(d) AS BIGINT) AS sum_d
    FROM md WHERE d > 0 GROUP BY id
)
SELECT id, CAST(n_reached AS DOUBLE) / CAST(sum_d AS DOUBLE) AS score,
       n_reached, sum_d
FROM agg
"""


def graph_harmonic_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT harmonic — the gds.closeness.harmonic.stream {exact: true}
    parity opt-in (round 9, VERDICT r8 "What's missing" #1): ALL-roots
    BFS to the fixpoint, stock's [0,1] float (Σ_d cnt_d/d)/(n−1) as a
    FIXED left-to-right chain of IEEE term divisions (operators/graph.py
    harmonic_centrality_exact — the float sum is order-pinned by the
    expression tree, so the oracle spelling the same chain hashes
    identically). Same %16 subgraph + depth-8 both-budget as
    graph_closeness_exact (measured diameter 6 at sf0.01)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_discount") <= F.lit(GRAPH_THRESHOLD))
        & (F.col("l_partkey") % 16 == 1)  # pushed to the parquet scan
    )
    e = li.groupBy(
        F.concat(F.lit("P"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst"),
    ).agg(F.min("l_discount").alias("distance"))
    return G.harmonic_centrality_exact(e, max_depth=8, directed=False)


_HARMONIC_TERMS = " + ".join(
    f"CAST(SUM(CASE WHEN d = {d} THEN 1 ELSE 0 END) AS DOUBLE) / {d}.0"
    for d in range(1, 9)
)

GRAPH_HARMONIC_EXACT_SQL = f"""
WITH RECURSIVE edges AS ({GRAPH_EDGES_SQL}),
small AS (
    SELECT src, dst FROM edges
    WHERE distance <= {GRAPH_THRESHOLD}
      AND CAST(substr(src, 2) AS BIGINT) % 16 = 1
),
und AS (SELECT src, dst FROM small UNION SELECT dst, src FROM small),
nn AS (SELECT COUNT(DISTINCT src) AS n FROM und),
bfs(root, id, d) AS (
    SELECT src AS root, src AS id, 0 FROM und
    UNION
    SELECT b.root, u.dst, b.d + 1
    FROM bfs b JOIN und u ON b.id = u.src
    WHERE b.d < 8
),
md AS (SELECT root, id, MIN(d) AS d FROM bfs GROUP BY root, id)
SELECT id,
       ({_HARMONIC_TERMS}) / CAST((SELECT n FROM nn) - 1 AS DOUBLE) AS score,
       CAST(COUNT(*) AS BIGINT) AS n_reached
FROM md WHERE d > 0 GROUP BY id
"""


ENTRIES.update({
    "graph_closeness_centrality": SuiteEntry(
        graph_closeness_centrality, GRAPH_CLOSENESS_SQL, ("W6", "A6")
    ),
    "graph_harmonic_exact": SuiteEntry(
        graph_harmonic_exact, GRAPH_HARMONIC_EXACT_SQL, ("W6", "A6")
    ),
    "graph_closeness_exact": SuiteEntry(
        graph_closeness_exact, GRAPH_CLOSENESS_EXACT_SQL, ("W6", "A6")
    ),
    "graph_knn_scalar": SuiteEntry(
        graph_knn_scalar, GRAPH_KNN_SCALAR_SQL, ("W5", "W2", "J7")
    ),
    "graph_scale_properties": SuiteEntry(
        graph_scale_properties, GRAPH_SCALE_PROPS_SQL, ("V4", "A6")
    ),
    "graph_louvain": SuiteEntry(
        graph_louvain, GRAPH_LOUVAIN_SQL, ("W6", "A6")
    ),
    "graph_louvain_multilevel": SuiteEntry(
        graph_louvain_multilevel, GRAPH_LOUVAIN_ML_SQL, ("W6", "A6")
    ),
    "graph_stress_centrality": SuiteEntry(
        graph_stress_centrality, GRAPH_STRESS_SQL, ("W6", "A6")
    ),
    "graph_betweenness_centrality": SuiteEntry(
        graph_betweenness_centrality, GRAPH_BETWEENNESS_SQL, ("W6", "A6")
    ),
    "graph_harmonic_centrality": SuiteEntry(
        graph_harmonic_centrality, GRAPH_HARMONIC_SQL, ("W6", "A6")
    ),
})


# --------------------------------------------------------------------------
# DIRECTED betweenness/stress (round 6 — clears the ADVICE-r4 fail-fast):
# on a digraph the t-side sigma leg cannot reuse the forward BFS, so the
# operators run a SECOND sigma-BFS over REVERSED edges and pairs are
# ORDERED (every (s, t), s ≠ t — an s→t path says nothing about t→s).
# The test graph is the same deterministic functional digraph graph_scc
# uses (x → (x²+1) mod M, plus x → (17x+3) mod M for every 7th doc) —
# rho-shaped tails and multi-node cycles give real asymmetric midpoints.
# The oracle unrolls BOTH sigma-BFS legs from one template (the shared-
# constant lesson of ADVICE r4: one body, two instantiations).
# --------------------------------------------------------------------------

def _doc_functional_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    m = docs.agg((F.max("doc_id") + F.lit(1)).alias("m"))
    base = docs.select("doc_id").crossJoin(F.broadcast(m))
    e1 = base.select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * F.col("doc_id") + 1, F.col("m")).alias("dst"),
    )
    e2 = base.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 17 + 3, F.col("m")).alias("dst"),
    )
    return e1.unionByName(e2)


def _doc_roots(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 1)
        .select(F.col("doc_id").alias("id"))
        .distinct()
    )


def graph_stress_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed stress centrality: shortest-path COUNTS through each node
    over ordered sampled pairs — the forward sigma-BFS supplies
    sigma(s→v)/d(s,v), the reversed-edge sigma-BFS supplies
    sigma(v→t)/d(v,t) (operators/graph.py stress_centrality_sampled,
    directed=True)."""
    return G.stress_centrality_sampled(
        _doc_functional_edges(spark, sf_dir),
        _doc_roots(spark, sf_dir),
        max_depth=3,
        directed=True,
    ).select(F.col("id").cast("long").alias("id"), "stress")


def graph_betweenness_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed betweenness in fixed-point integers: the Brandes pair
    dependency over ORDERED pairs, per-term floored at 1e-6 — same
    machinery as graph_stress_directed with the sigma_st division."""
    return G.betweenness_centrality_scaled(
        _doc_functional_edges(spark, sf_dir),
        _doc_roots(spark, sf_dir),
        max_depth=3,
        scale=1_000_000,
        directed=True,
    ).select(F.col("id").cast("long").alias("id"), "bc_scaled")


def _directed_sigma_levels(prefix: str, edge_join: str) -> str:
    """Three unrolled sigma-BFS levels over the functional digraph —
    instantiated once forward (edge_join joins u.src, expands to u.dst)
    and once reversed (joins u.dst, expands to u.src), so the two legs
    of the directed oracle cannot drift apart."""
    nxt = "u.dst" if edge_join == "src" else "u.src"
    prv = edge_join
    lv = lambda i: f"{prefix}{i}"  # noqa: E731
    return f"""
{lv(1)} AS (
    SELECT {lv(0)}.root, {nxt} AS id, CAST(SUM({lv(0)}.sig) AS BIGINT) AS sig
    FROM {lv(0)} JOIN de u ON u.{prv} = {lv(0)}.id
    WHERE {nxt} <> {lv(0)}.root
    GROUP BY {lv(0)}.root, {nxt}
),
{lv(2)} AS (
    SELECT {lv(1)}.root, {nxt} AS id, CAST(SUM({lv(1)}.sig) AS BIGINT) AS sig
    FROM {lv(1)} JOIN de u ON u.{prv} = {lv(1)}.id
    WHERE {nxt} <> {lv(1)}.root
      AND NOT EXISTS (SELECT 1 FROM {lv(1)} z
                      WHERE z.root = {lv(1)}.root AND z.id = {nxt})
    GROUP BY {lv(1)}.root, {nxt}
),
{lv(3)} AS (
    SELECT {lv(2)}.root, {nxt} AS id, CAST(SUM({lv(2)}.sig) AS BIGINT) AS sig
    FROM {lv(2)} JOIN de u ON u.{prv} = {lv(2)}.id
    WHERE {nxt} <> {lv(2)}.root
      AND NOT EXISTS (SELECT 1 FROM {lv(1)} z
                      WHERE z.root = {lv(2)}.root AND z.id = {nxt})
      AND NOT EXISTS (SELECT 1 FROM {lv(2)} z
                      WHERE z.root = {lv(2)}.root AND z.id = {nxt})
    GROUP BY {lv(2)}.root, {nxt}
),
{prefix}sig AS (
    SELECT root, id, 1 AS d, sig FROM {lv(1)}
    UNION ALL SELECT root, id, 2, sig FROM {lv(2)}
    UNION ALL SELECT root, id, 3, sig FROM {lv(3)}
),"""


_DIRECTED_SIGMA_CTE_BODY = (
    """
WITH de AS (
    SELECT doc_id AS src,
           (doc_id * doc_id + 1) % (SELECT MAX(doc_id) + 1 FROM documents) AS dst
    FROM documents
    UNION ALL
    SELECT doc_id,
           (doc_id * 17 + 3) % (SELECT MAX(doc_id) + 1 FROM documents)
    FROM documents WHERE doc_id % 7 = 0
),
r AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id % 5 = 1),
f0 AS (SELECT id AS root, id, CAST(1 AS BIGINT) AS sig FROM r),
b0 AS (SELECT id AS root, id, CAST(1 AS BIGINT) AS sig FROM r),"""
    + _directed_sigma_levels("f", "src")
    + _directed_sigma_levels("b", "dst")
)

GRAPH_STRESS_DIRECTED_SQL = _DIRECTED_SIGMA_CTE_BODY + """
pd AS (
    SELECT root AS s, id AS t, d AS dst_d FROM fsig
    WHERE id IN (SELECT id FROM r)
)
SELECT CAST(a.id AS BIGINT) AS id,
       CAST(SUM(a.sig * b.sig) AS BIGINT) AS stress
FROM pd
JOIN fsig a ON a.root = pd.s
JOIN bsig b ON b.root = pd.t AND b.id = a.id
WHERE a.d + b.d = pd.dst_d AND a.id <> pd.s AND a.id <> pd.t
GROUP BY a.id
"""

GRAPH_BETWEENNESS_DIRECTED_SQL = _DIRECTED_SIGMA_CTE_BODY + """
pd AS (
    SELECT root AS s, id AS t, d AS dst_d, sig AS sig_st FROM fsig
    WHERE id IN (SELECT id FROM r)
)
SELECT CAST(a.id AS BIGINT) AS id,
       CAST(SUM((a.sig * b.sig * 1000000) // pd.sig_st) AS BIGINT) AS bc_scaled
FROM pd
JOIN fsig a ON a.root = pd.s
JOIN bsig b ON b.root = pd.t AND b.id = a.id
WHERE a.d + b.d = pd.dst_d AND a.id <> pd.s AND a.id <> pd.t
GROUP BY a.id
"""


ENTRIES.update({
    "graph_stress_directed": SuiteEntry(
        graph_stress_directed, GRAPH_STRESS_DIRECTED_SQL, ("W6", "A6")
    ),
    "graph_betweenness_directed": SuiteEntry(
        graph_betweenness_directed, GRAPH_BETWEENNESS_DIRECTED_SQL, ("W6", "A6")
    ),
})


def graph_community_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community modularity + conductance (round 6 — the stock
    gds.modularity/gds.conductance surface) over the deterministic
    2-round label-propagation assignment: modularity
    Q_c = (4·m·e_c − d_c²)/(4m²) and conductance
    φ_c = cut_c / min(vol_c, 2m − vol_c), each ONE double division of
    exact longs (operators/graph.py community_quality). The oracle
    inlines the LP twin's 2-round unrolled SQL as the assignment and
    re-derives the same integer aggregates."""
    from phageclouds_graphdatabase_spark.graphframe import GraphFrame

    e = graph_edges(spark, sf_dir, GRAPH_THRESHOLD)
    v = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    lp = GraphFrame(v, e).labelPropagation(2)
    return G.community_quality(e, lp)


GRAPH_COMMUNITY_QUALITY_SQL = f"""
WITH lp AS ({GRAPH_LABEL_PROP_SQL}),
eg2 AS (
    SELECT src, dst FROM ({GRAPH_EDGES_SQL}) WHERE distance <= {GRAPH_THRESHOLD}
),
canon AS (
    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM eg2 WHERE src <> dst
),
mm AS (SELECT COUNT(*) AS m FROM canon),
je AS (
    SELECT ca.label AS la, cb.label AS lb
    FROM canon
    JOIN lp ca ON canon.a = ca.id
    JOIN lp cb ON canon.b = cb.id
),
intra AS (
    SELECT la AS community, CAST(COUNT(*) AS BIGINT) AS intra_edges
    FROM je WHERE la = lb GROUP BY la
),
cut AS (
    SELECT community, CAST(COUNT(*) AS BIGINT) AS cut_edges FROM (
        SELECT la AS community FROM je WHERE la <> lb
        UNION ALL
        SELECT lb FROM je WHERE la <> lb
    ) GROUP BY community
),
deg AS (
    SELECT id, COUNT(*) AS d
    FROM (SELECT a AS id FROM canon UNION ALL SELECT b FROM canon)
    GROUP BY id
),
vol AS (
    SELECT lp.label AS community, CAST(SUM(deg.d) AS BIGINT) AS degree_sum
    FROM deg JOIN lp ON deg.id = lp.id GROUP BY lp.label
)
SELECT vol.community,
       CAST(COALESCE(intra.intra_edges, 0) AS BIGINT) AS intra_edges,
       CAST(COALESCE(cut.cut_edges, 0) AS BIGINT) AS cut_edges,
       vol.degree_sum,
       CAST(4 * (SELECT m FROM mm) * COALESCE(intra.intra_edges, 0)
            - vol.degree_sum * vol.degree_sum AS DOUBLE)
       / CAST(4 * (SELECT m FROM mm) * (SELECT m FROM mm) AS DOUBLE)
           AS modularity,
       CASE WHEN LEAST(vol.degree_sum,
                       2 * (SELECT m FROM mm) - vol.degree_sum) > 0
            THEN CAST(COALESCE(cut.cut_edges, 0) AS DOUBLE)
                 / CAST(LEAST(vol.degree_sum,
                              2 * (SELECT m FROM mm) - vol.degree_sum)
                        AS DOUBLE)
            ELSE 0.0 END AS conductance
FROM vol
LEFT JOIN intra ON intra.community = vol.community
LEFT JOIN cut ON cut.community = vol.community
"""


ENTRIES.update({
    "graph_community_quality": SuiteEntry(
        graph_community_quality, GRAPH_COMMUNITY_QUALITY_SQL, ("W6", "A6")
    ),
})


def graph_core_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL k-core decomposition (round 6 — the stock gds.kcore.stream
    semantics, closing the given-k COVERAGE divergence): every node's
    core number via the h-index iteration (operators/graph.py
    core_decomposition — h₀ = degree, h_{t+1}(v) = H-index of neighbor
    values, fixpoint = coreness). The engine runs the SAME 8-round
    budget the oracle unrolls (ADVICE r6: convergence depth is
    data-dependent — up to graph diameter on path-like graphs — so
    fixpoint-vs-8-rounds could diverge spuriously on a future testdata
    regen; with matched budgets the comparison is exact by
    construction). Measured convergence on the actual tables is 5/6
    rounds and the update is idempotent at the fixpoint, so this result
    IS the fixpoint coreness here — pinned by
    tests/test_oracle_suite.py::test_core_decomposition_budget_is_fixpoint,
    which fails loudly if a regen ever needs > 8 rounds."""
    return G.core_decomposition(
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD), rounds=8
    )


def _core_decomposition_sql(rounds: int) -> str:
    head = f"""
WITH edges AS ({GRAPH_EDGES_SQL}),
und AS (
    SELECT src, dst FROM edges WHERE distance <= {GRAPH_THRESHOLD}
    UNION
    SELECT dst AS src, src AS dst FROM edges WHERE distance <= {GRAPH_THRESHOLD}
),
h0 AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS core FROM und GROUP BY src)"""
    body = "".join(
        f""",
h{i} AS (
    SELECT id, MAX(LEAST(CAST(rn AS BIGINT), nv)) AS core FROM (
        SELECT u.src AS id, p.core AS nv,
               ROW_NUMBER() OVER (PARTITION BY u.src
                                  ORDER BY p.core DESC) AS rn
        FROM und u JOIN h{i - 1} p ON p.id = u.dst
    ) q GROUP BY id
)"""
        for i in range(1, rounds + 1)
    )
    return head + body + f"\nSELECT id, core FROM h{rounds}\n"


GRAPH_CORE_DECOMP_SQL = _core_decomposition_sql(8)


ENTRIES.update({
    "graph_core_decomposition": SuiteEntry(
        graph_core_decomposition, GRAPH_CORE_DECOMP_SQL, ("W6",)
    ),
})


def zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout under the driver contract (round 3): events written
    Morton-clustered on (user_id, value-cents), read back through a 2-D box
    predicate. The entry ASSERTS the skipping property at runtime — a
    min/max pruner must skip at least half the files for the box — so a
    broken layout fails the query, not just a unit test. Results are the
    box's exact-integer aggregates (layout must never change answers)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from phageclouds_graphdatabase_spark.sources import zorder

    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", cents(F.col("value")).alias("vc")
    )
    out = os.path.join(
        tempfile.gettempdir(),
        "pcgdb_zo_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    if os.path.isdir(out):
        shutil.rmtree(out)
    zorder.write_zordered(ev, out, "user_id", "vc", n_files=32, bits=8)

    boxes = zorder.file_boxes(out, "user_id", "vc")
    hit = zorder.files_intersecting(boxes, 40, 80, 500, 2000)
    if len(boxes) >= 16 and len(hit) > len(boxes) // 2:
        raise AssertionError(
            f"z-order layout lost its skipping property: "
            f"{len(hit)}/{len(boxes)} files intersect the box"
        )

    back = spark.read.parquet(out).filter(
        F.col("user_id").between(40, 80) & F.col("vc").between(500, 2000)
    )
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("vc").cast("long").alias("sum_vc"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.min("event_id").cast("long").alias("min_ev"),
        F.max("event_id").cast("long").alias("max_ev"),
    )


ZORDER_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(vc) AS BIGINT) AS sum_vc,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(MIN(event_id) AS BIGINT) AS min_ev,
       CAST(MAX(event_id) AS BIGINT) AS max_ev
FROM (
    SELECT event_id, user_id,
           CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vc
    FROM events
) z
WHERE user_id BETWEEN 40 AND 80 AND vc BETWEEN 500 AND 2000
"""


ENTRIES.update({
    "zorder_roundtrip": SuiteEntry(zorder_roundtrip, ZORDER_SQL, ("S7", "P3")),
})


def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-iteration integer-scaled PERSONALIZED PageRank (round 3): restart
    mass concentrated on the ECONOMY seed sample — the GDS PPR surface,
    the recommendation/relevance primitive. Same exact-integer arithmetic
    as graph_pagerank so the iterative result hash-matches the unrolled
    SQL oracle; filtered to reached nodes (score > 0) to keep the result
    seed-relative."""
    pr = G.personalized_pagerank_scaled(
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD),
        graph_seeds(spark, sf_dir),
        iterations=2,
    )
    return pr.filter(F.col("pr_scaled") > 0)


GRAPH_PPR_SQL = f"""
WITH e AS (
    SELECT src, dst FROM ({GRAPH_EDGES_SQL}) WHERE distance <= {GRAPH_THRESHOLD}
),
n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
sd AS ({GRAPH_SEEDS_SQL}),
nf AS (
    SELECT n.id, CASE WHEN sd.id IS NULL THEN 0 ELSE 1 END AS is_seed
    FROM n LEFT JOIN sd ON n.id = sd.id
),
od AS (SELECT src AS id, COUNT(*) AS od FROM e GROUP BY src),
p0 AS (SELECT id, CAST(is_seed * 1000000 AS BIGINT) AS pr, is_seed FROM nf),
c1 AS (
    SELECT e.dst, SUM(p0.pr // od.od) AS s
    FROM e JOIN od ON e.src = od.id JOIN p0 ON p0.id = e.src
    GROUP BY e.dst
),
p1 AS (
    SELECT nf.id, nf.is_seed,
           CAST(nf.is_seed * 150000 + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS pr
    FROM nf LEFT JOIN c1 ON nf.id = c1.dst
),
c2 AS (
    SELECT e.dst, SUM(p1.pr // od.od) AS s
    FROM e JOIN od ON e.src = od.id JOIN p1 ON p1.id = e.src
    GROUP BY e.dst
)
SELECT id, pr_scaled FROM (
    SELECT nf.id,
           CAST(nf.is_seed * 150000 + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT)
           AS pr_scaled
    FROM nf LEFT JOIN c2 ON nf.id = c2.dst
) z WHERE pr_scaled > 0
"""


ENTRIES.update({
    "graph_personalized_pagerank": SuiteEntry(
        graph_personalized_pagerank, GRAPH_PPR_SQL, ("W6",)
    ),
})


def graph_fastrp_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastRP-shaped node embeddings (round 3): md5-derived integer random
    projections, two degree-normalized propagation layers, weighted layer
    mix — ALL exact-integer (floor division matches the oracle's //), so a
    node-embedding table is value-hashable cross-engine. The GDS fastRP
    surface re-expressed as the same join+partial-agg plan as integer
    PageRank, x dims rows."""
    emb = G.fastrp_embeddings(
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD), dims=8, iters=2,
        weights=(1, 2),
    )
    return emb.select("id", arr_str("emb").alias("emb"))


GRAPH_FASTRP_SQL = f"""
WITH und AS (
    SELECT src, dst FROM ({GRAPH_EDGES_SQL}) WHERE distance <= {GRAPH_THRESHOLD}
    UNION ALL
    SELECT dst, src FROM ({GRAPH_EDGES_SQL}) WHERE distance <= {GRAPH_THRESHOLD}
),
n AS (SELECT DISTINCT src AS id FROM und),
deg AS (SELECT src AS id, COUNT(*) AS deg FROM und GROUP BY src),
nd AS (SELECT n.id, d.dim FROM n, (SELECT unnest(range(0, 8)) AS dim) d),
v0 AS (
    SELECT id, dim,
           (('0x' || substr(md5(id || '|' || dim), 1, 6))::BIGINT % 2001)
           - 1000 AS val
    FROM nd
),
s1 AS (
    SELECT u.src AS id, v.dim, SUM(v.val) AS s
    FROM und u JOIN v0 v ON v.id = u.dst GROUP BY u.src, v.dim
),
v1 AS (
    SELECT nd.id, nd.dim,
           COALESCE(s1.s, 0) // COALESCE(deg.deg, 1) AS val
    FROM nd LEFT JOIN s1 ON s1.id = nd.id AND s1.dim = nd.dim
    LEFT JOIN deg ON deg.id = nd.id
),
s2 AS (
    SELECT u.src AS id, v.dim, SUM(v.val) AS s
    FROM und u JOIN v1 v ON v.id = u.dst GROUP BY u.src, v.dim
),
v2 AS (
    SELECT nd.id, nd.dim,
           COALESCE(s2.s, 0) // COALESCE(deg.deg, 1) AS val
    FROM nd LEFT JOIN s2 ON s2.id = nd.id AND s2.dim = nd.dim
    LEFT JOIN deg ON deg.id = nd.id
),
m AS (
    SELECT v1.id, v1.dim, 1 * v1.val + 2 * v2.val AS val
    FROM v1 JOIN v2 ON v2.id = v1.id AND v2.dim = v1.dim
)
SELECT id, array_to_string(list(val ORDER BY dim), '->') AS emb
FROM m GROUP BY id
"""


ENTRIES.update({
    "graph_fastrp_embeddings": SuiteEntry(
        graph_fastrp_embeddings, GRAPH_FASTRP_SQL, ("W6", "W5")
    ),
})


# --------------------------------------------------------------------------
# E2/E3 through the driver surface (round 7, VERDICT r6 ask #7): the family
# and host presentation pipelines (plans/clouds.py) run END-TO-END — seed
# predicate -> 1-hop expand -> attribute joins -> palette/title derivation —
# on deterministic phage-SHAPED inputs synthesized from the testdata tables,
# so the DuckDB oracle can value-check the full pipeline output (the real
# phage tables aren't part of /root/testdata; golden-parity vs the
# reference's committed HTMLs is tests/test_clouds*.py).
# --------------------------------------------------------------------------

_PHAGE_SOURCES = ("NCBI", "Tara", "GPD_Isolate", "GTDB_predicted_prophages")

from phageclouds_graphdatabase_spark.functions.derive import (  # noqa: E402
    TAB20_HEX as _TAB20_HEX,
)

_TAB20_SQL_ARRAY = "[" + ", ".join(f"'{h}'" for h in _TAB20_HEX) + "]"


def _phage_shaped_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic phage-shaped node+lineage attributes over BOTH endpoint
    families of the derived lineitem graph ('P<partkey>' from part,
    'S<suppkey>' from supplier): source cycles over the four reference
    sources, taxonomy is 'Viruses;Fam_<k%7>;Genus_<k%13 zero-padded>' (the
    zero-padding keeps genus names substring-collision-free for the
    first-substring-match palette join), genome_size is an exact multiple
    of the 3000 size scale."""
    def mk(tbl: DataFrame, key: str, prefix: str) -> DataFrame:
        k = F.col(key).cast("long")
        fam = F.concat(F.lit("Fam_"), (k % 7).cast("string"))
        gen = F.concat(
            F.lit("Genus_"), F.lpad((k % 13).cast("string"), 2, "0")
        )
        src_arr = F.array(*[F.lit(s) for s in _PHAGE_SOURCES])
        return tbl.select(
            F.concat(F.lit(prefix), k.cast("string")).alias("accession"),
            F.element_at(src_arr, ((k % 4) + 1).cast("int")).alias("source"),
            F.concat(F.lit("Viruses;"), fam, F.lit(";"), gen).alias(
                "taxonomy"
            ),
            (((k % 90) + 10) * 3000).cast("long").alias("genome_size"),
            gen.alias("genus"),
            fam.alias("family"),
        )

    return mk(t(spark, sf_dir, "part"), "p_partkey", "P").unionByName(
        mk(t(spark, sf_dir, "supplier"), "s_suppkey", "S")
    )


_PHAGE_NODES_SQL = """
    SELECT 'P' || p_partkey AS accession,
           (['NCBI', 'Tara', 'GPD_Isolate', 'GTDB_predicted_prophages'])
               [CAST(p_partkey % 4 AS INTEGER) + 1] AS source,
           'Viruses;Fam_' || (p_partkey % 7) || ';Genus_'
               || lpad(CAST(p_partkey % 13 AS VARCHAR), 2, '0') AS taxonomy,
           CAST(((p_partkey % 90) + 10) * 3000 AS BIGINT) AS genome_size,
           'Genus_' || lpad(CAST(p_partkey % 13 AS VARCHAR), 2, '0') AS genus,
           'Fam_' || (p_partkey % 7) AS family
    FROM part
    UNION ALL
    SELECT 'S' || s_suppkey,
           (['NCBI', 'Tara', 'GPD_Isolate', 'GTDB_predicted_prophages'])
               [CAST(s_suppkey % 4 AS INTEGER) + 1],
           'Viruses;Fam_' || (s_suppkey % 7) || ';Genus_'
               || lpad(CAST(s_suppkey % 13 AS VARCHAR), 2, '0'),
           CAST(((s_suppkey % 90) + 10) * 3000 AS BIGINT),
           'Genus_' || lpad(CAST(s_suppkey % 13 AS VARCHAR), 2, '0'),
           'Fam_' || (s_suppkey % 7)
    FROM supplier
"""


def clouds_family_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 end-to-end (`clouds.clouds_by_family`): OPTIONAL-MATCH
    expand keeps edgeless family seeds (J4), per-taxon palette from the
    lineages dim with alphabetical index pinning (V3), first-substring-match
    color via min-palette-idx window, rank extraction as a lineages join
    (V5), and the '{:_}'-formatted hover title (V6). Returns the
    presentation node table."""
    from phageclouds_graphdatabase_spark.plans import clouds

    ext = _phage_shaped_nodes(spark, sf_dir)
    res = clouds.clouds_by_family(
        ext.select("accession", "source", "taxonomy", "genome_size", "genus"),
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD),
        ext.select("accession", "family", "genus"),
        "Fam_3",
        "genus",
        GRAPH_THRESHOLD,
    )
    return res.nodes


CLOUDS_FAMILY_SQL = f"""
WITH pn AS ({_PHAGE_NODES_SQL}),
e AS (
    SELECT src, dst FROM ({GRAPH_EDGES_SQL}) WHERE distance <= {GRAPH_THRESHOLD}
),
seeds AS (
    SELECT accession AS id FROM pn
    WHERE source = 'NCBI' AND contains(taxonomy, 'Fam_3')
),
ns AS (
    SELECT id FROM seeds
    UNION
    SELECT e.dst FROM e JOIN seeds s ON e.src = s.id
),
taxa AS (
    SELECT DISTINCT genus AS taxon FROM pn
    WHERE family = 'Fam_3' AND genus IS NOT NULL AND genus <> ''
),
palh AS (
    SELECT taxon,
           row_number() OVER (ORDER BY taxon) - 1 AS palette_idx,
           ({_TAB20_SQL_ARRAY})
               [CAST((row_number() OVER (ORDER BY taxon) - 1) % 20 AS INTEGER) + 1] AS hex
    FROM taxa
),
matched AS (
    SELECT a.accession AS id, a.source, a.genome_size,
           p.hex,
           row_number() OVER (PARTITION BY a.accession
                              ORDER BY p.palette_idx ASC NULLS LAST) AS rn
    FROM pn a
    JOIN ns ON a.accession = ns.id
    LEFT JOIN palh p
      ON a.source = 'NCBI' AND contains(a.taxonomy, p.taxon)
),
fin AS (
    SELECT id, source, genome_size,
           CASE WHEN source <> 'NCBI' THEN '#FFFFFF'
                ELSE COALESCE(hex, '#000000') END AS color_background
    FROM matched WHERE rn = 1
)
SELECT f.id, f.source, f.genome_size,
       NULLIF(l.genus, '') AS target_taxon,
       CAST(FLOOR(f.genome_size / 3000) AS INTEGER) AS size,
       f.color_background,
       '#000000' AS color_border,
       'Source: ' || COALESCE(f.source, 'None') || '<br>Genome size: '
           || replace(format('{{:,}}', f.genome_size), ',', '_')
           || '<br>genus: ' || COALESCE(NULLIF(l.genus, ''), 'None') AS title
FROM fin f
LEFT JOIN (SELECT accession, genus FROM pn) l ON f.id = l.accession
"""


def clouds_host_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 end-to-end (`clouds.clouds_by_host`) with
    harsh=True: existential infects semi-join seeds (P8) with the
    endpoint-a-only harsh source exclusion (the golden-preserved quirk),
    non-optional expand, row-multiplying any-host attribute join (J5) +
    deterministic last-write-wins dedup (A4), source-hex colors (V2) and
    the host hover title (V6). Returns the presentation node table."""
    from phageclouds_graphdatabase_spark.plans import clouds

    ext = _phage_shaped_nodes(spark, sf_dir)
    p = t(spark, sf_dir, "part")
    k = F.col("p_partkey").cast("long")
    infects = p.filter(k % 3 == 0).select(
        F.concat(F.lit("P"), k.cast("string")).alias("src"),
        F.concat(F.lit("Host_"), (k % 5).cast("string")).alias("host_genus"),
    ).unionByName(
        p.filter(k % 6 == 0).select(
            F.concat(F.lit("P"), k.cast("string")).alias("src"),
            F.concat(F.lit("Host_"), ((k % 4) + 5).cast("string")).alias(
                "host_genus"
            ),
        )
    )
    res = clouds.clouds_by_host(
        ext.select("accession", "source", "taxonomy", "genome_size", "genus"),
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD),
        infects,
        "Host_0",
        GRAPH_THRESHOLD,
        harsh=True,
    )
    return res.nodes


CLOUDS_HOST_SQL = f"""
WITH pn AS ({_PHAGE_NODES_SQL}),
e AS (
    SELECT src, dst FROM ({GRAPH_EDGES_SQL}) WHERE distance <= {GRAPH_THRESHOLD}
),
inf AS (
    SELECT 'P' || p_partkey AS src,
           'Host_' || (p_partkey % 5) AS host_genus
    FROM part WHERE p_partkey % 3 = 0
    UNION ALL
    SELECT 'P' || p_partkey, 'Host_' || ((p_partkey % 4) + 5)
    FROM part WHERE p_partkey % 6 = 0
),
hosted AS (
    SELECT accession AS id FROM pn
    WHERE source <> 'GTDB_predicted_prophages'
      AND accession IN (SELECT src FROM inf WHERE host_genus = 'Host_0')
),
se AS (SELECT e.src, e.dst FROM e JOIN hosted h ON e.src = h.id),
ns AS (SELECT src AS id FROM se UNION SELECT dst FROM se),
wh AS (
    SELECT pn.accession, pn.source, pn.genome_size, pn.genus, i.host_genus,
           row_number() OVER (PARTITION BY pn.accession
                              ORDER BY i.host_genus DESC NULLS LAST) AS rn
    FROM pn
    JOIN ns ON pn.accession = ns.id
    LEFT JOIN inf i ON pn.accession = i.src
)
SELECT accession AS id, source, genome_size,
       genus AS phage_genus, host_genus AS host,
       CAST(FLOOR(genome_size / 3000) AS INTEGER) AS size,
       CASE source WHEN 'NCBI' THEN '#8acb4a' WHEN 'Tara' THEN '#39dede'
            WHEN 'GTDB_predicted_prophages' THEN '#f1e653'
            WHEN 'GPD_Isolate' THEN '#9b4aed'
            WHEN 'GPD_Metagenome' THEN '#c734df' END AS color_background,
       '#000000' AS color_border,
       'Target host genus: ' || COALESCE(host_genus, 'None')
           || '<br>Phage genus: ' || COALESCE(genus, 'None')
           || '<br>Genome size: '
           || replace(format('{{:,}}', genome_size), ',', '_')
           || ' bp' AS title
FROM wh WHERE rn = 1
"""


ENTRIES.update({
    "clouds_family_pipeline": SuiteEntry(
        clouds_family_pipeline, CLOUDS_FAMILY_SQL,
        ("J4", "V3", "V5", "V6", "J2"),
    ),
    "clouds_host_pipeline": SuiteEntry(
        clouds_host_pipeline, CLOUDS_HOST_SQL,
        ("P8", "J5", "A4", "V2", "V6"),
    ),
})


# --------------------------------------------------------------------------
# Round 8 second batch: triangle ENUMERATION (gds.alpha.triangles), HITS
# hubs/authorities (gds.alpha.hits), DAG topological sort (gds.dag.
# topologicalSort). Triangles + toposort run on the same-brand
# adjacent-size part graph (sparse, clustered, triangle-rich — the
# graph_ktruss construction; the P→S bipartite derived graph has no
# triangles and only depth-1 natural orientation); HITS runs on the
# thresholded bipartite graph, where hubs (parts) and authorities
# (suppliers) are exactly the two tiers — the textbook HITS shape.
# --------------------------------------------------------------------------

_PART_BRAND_EDGES_SQL = """
    SELECT x.p_partkey AS a, y.p_partkey AS b
    FROM part x JOIN part y
      ON x.p_brand = y.p_brand AND abs(x.p_size - y.p_size) <= 1
     AND x.p_partkey < y.p_partkey
"""


def _part_brand_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    x, y = p.alias("x"), p.alias("y")
    return x.join(
        y,
        (F.col("x.p_brand") == F.col("y.p_brand"))
        & (F.abs(F.col("x.p_size") - F.col("y.p_size")) <= 1)
        & (F.col("x.p_partkey") < F.col("y.p_partkey")),
    ).select(
        F.col("x.p_partkey").alias("src"), F.col("y.p_partkey").alias("dst")
    )


def graph_triangles_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle ENUMERATION — one row per triangle, corners sorted
    ascending (the stock gds.alpha.triangles stream; operators/graph.py
    triangles_stream). Same degree-oriented once-per-triangle machinery
    as graph_triangle_counts/k-truss (arboricity-bounded O(m^1.5) wedge
    join + gated sort-free closing join); the oracle's id-canonical
    3-join enumerates the identical set because e0 is already a < b."""
    return G.triangles_stream(_part_brand_edges(spark, sf_dir)).select(
        F.col("node_a").cast("long").alias("node_a"),
        F.col("node_b").cast("long").alias("node_b"),
        F.col("node_c").cast("long").alias("node_c"),
    )


GRAPH_TRIANGLES_STREAM_SQL = f"""
WITH e0 AS ({_PART_BRAND_EDGES_SQL})
SELECT CAST(e1.a AS BIGINT) AS node_a, CAST(e1.b AS BIGINT) AS node_b,
       CAST(e2.b AS BIGINT) AS node_c
FROM e0 e1 JOIN e0 e2 ON e2.a = e1.b
JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b
"""


def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs and authorities, 2 fixed iterations in exact integers
    (the stock gds.alpha.hits surface; operators/graph.py hits_scores) on
    the thresholded directed P→S graph: auth counts walks arriving via
    hubs, hub counts walks leaving via authorities. The raw-integer form
    is the oracle-checkable one; stock's per-iteration L2 normalization
    is a positive global scalar per step, available as normalized=True
    (unit-vector parity, the eigenvector pattern)."""
    return G.hits_scores(
        graph_edges(spark, sf_dir, GRAPH_THRESHOLD), iterations=2
    )


GRAPH_HITS_SQL = f"""
WITH e0 AS ({GRAPH_EDGES_SQL}),
dir AS MATERIALIZED (
    SELECT src, dst FROM e0 WHERE distance <= {GRAPH_THRESHOLD}
),
nodes AS MATERIALIZED (SELECT src AS id FROM dir UNION SELECT dst FROM dir),
a1 AS MATERIALIZED (
    SELECT n.id, CAST(COALESCE(s.v, 0) AS BIGINT) AS auth
    FROM nodes n LEFT JOIN (
        SELECT dst AS id, COUNT(*) AS v FROM dir GROUP BY 1
    ) s ON s.id = n.id
),
h1 AS MATERIALIZED (
    SELECT n.id, CAST(COALESCE(s.v, 0) AS BIGINT) AS hub
    FROM nodes n LEFT JOIN (
        SELECT d.src AS id, SUM(a.auth) AS v
        FROM dir d JOIN a1 a ON a.id = d.dst GROUP BY 1
    ) s ON s.id = n.id
),
a2 AS MATERIALIZED (
    SELECT n.id, CAST(COALESCE(s.v, 0) AS BIGINT) AS auth
    FROM nodes n LEFT JOIN (
        SELECT d.dst AS id, SUM(h.hub) AS v
        FROM dir d JOIN h1 h ON h.id = d.src GROUP BY 1
    ) s ON s.id = n.id
),
h2 AS MATERIALIZED (
    SELECT n.id, CAST(COALESCE(s.v, 0) AS BIGINT) AS hub
    FROM nodes n LEFT JOIN (
        SELECT d.src AS id, SUM(a.auth) AS v
        FROM dir d JOIN a2 a ON a.id = d.dst GROUP BY 1
    ) s ON s.id = n.id
)
SELECT a2.id, a2.auth, h2.hub FROM a2 JOIN h2 ON h2.id = a2.id
"""


# Oracle round budget for the DAG longest-distance relaxation. The two
# budget-truncation semantics DIFFER below the fixpoint (Kahn omits
# not-yet-removed nodes; max-relaxation emits partial values for them), so
# the budget must STRICTLY exceed the DAG depth — measured depth at sf0.01
# is 16 (sf0.001: 2), budget 20 leaves regen headroom, and
# tests/test_round8b.py pins fixpoint-reached at the oracle SF so a deeper
# regen fails loudly, not silently (the coredec 8-round-budget precedent).
# At sf0.1 the depth is 161: the entry is budget-truncated there by
# design (only sf0.01 is oracle-compared; the operator's default
# max_rounds=None runs any SF to the fixpoint).
TOPO_SORT_ROUNDS = 20


def graph_topological_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAG topological sort with longest-distance-from-source levels (the
    stock gds.dag.topologicalSort.stream surface; operators/graph.py
    topological_levels). The DAG is the same-brand part graph oriented up
    the (degree, id) total order (_orient_edges — any fixed total order
    is acyclic by construction, and degree orientation gives real depth,
    unlike the natural P→S direction's two levels). Engine: Kahn peeling
    (round r removes the zero-in-degree live nodes = longest distance r);
    oracle: the equivalent unrolled max-relaxation
    d_{{t+1}}(v) = max(d_t(v), max over in-neighbors of d_t(u)+1), which
    converges to the same longest distance in depth rounds."""
    canon = _part_brand_edges(spark, sf_dir).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    dag = G._orient_edges(canon).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    return G.topological_levels(dag, max_rounds=TOPO_SORT_ROUNDS).select(
        F.col("id").cast("long").alias("id"), "dist"
    )


def _topo_sort_sql(rounds: int) -> str:
    head = f"""
WITH e0 AS ({_PART_BRAND_EDGES_SQL}),
deg AS MATERIALIZED (
    SELECT n, CAST(COUNT(*) AS BIGINT) AS d
    FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1
),
dag AS MATERIALIZED (
    SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                THEN e0.a ELSE e0.b END AS u,
           CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                THEN e0.b ELSE e0.a END AS v
    FROM e0 JOIN deg da ON da.n = e0.a JOIN deg db ON db.n = e0.b
),
d0 AS MATERIALIZED (
    SELECT n AS id, CAST(0 AS BIGINT) AS dist
    FROM (SELECT u AS n FROM dag UNION SELECT v FROM dag)
)"""
    body = ""
    for i in range(1, rounds + 1):
        p = i - 1
        body += f""",
d{i} AS MATERIALIZED (
    SELECT n.id, CAST(GREATEST(n.dist, COALESCE(s.m, 0)) AS BIGINT) AS dist
    FROM d{p} n LEFT JOIN (
        SELECT g.v AS id, MAX(u.dist) + 1 AS m
        FROM dag g JOIN d{p} u ON u.id = g.u GROUP BY 1
    ) s ON s.id = n.id
)"""
    return (
        head
        + body
        + f"\nSELECT CAST(id AS BIGINT) AS id, dist FROM d{rounds}\n"
    )


GRAPH_TOPO_SORT_SQL = _topo_sort_sql(TOPO_SORT_ROUNDS)


ENTRIES.update({
    "graph_triangles_stream": SuiteEntry(
        graph_triangles_stream, GRAPH_TRIANGLES_STREAM_SQL, ("W6", "J1")
    ),
    "graph_hits_scores": SuiteEntry(
        graph_hits_scores, GRAPH_HITS_SQL, ("W6", "A6")
    ),
    "graph_topological_sort": SuiteEntry(
        graph_topological_sort, GRAPH_TOPO_SORT_SQL, ("W6", "A6")
    ),
})


def graph_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bellman-Ford with NEGATIVE edge weights (round 8 — the stock
    gds.bellmanFord surface; operators/graph.py bellman_ford_costs) on
    the degree-oriented same-brand DAG weighted by the SIGNED size step
    w = size(v) − size(u) ∈ {−1, 0, 1} (the |size diff| ≤ 1 edge
    predicate makes every weight a unit step; orientation makes the
    graph acyclic, so negative weights are exact-summable with no
    negative cycle). max_rounds is the round-unrollable oracle budget —
    unlike the toposort peeling, BOTH sides hold reached-so-far minima
    at every round, so ANY budget is oracle-identical by construction
    (no fixpoint pin needed); 12 rounds keeps the entry cheap (20
    sequential rounds measured 24.5 s at sf0.01 — rounds are the cost,
    not rows) while still exercising multi-hop negative-sum paths."""
    canon = _part_brand_edges(spark, sf_dir).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    dag = G._orient_edges(canon).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    sz = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("n"), F.col("p_size").cast("long").alias("s")
    )
    we = (
        dag.join(sz.select(F.col("n").alias("src"), F.col("s").alias("su")), "src")
        .join(sz.select(F.col("n").alias("dst"), F.col("s").alias("sv")), "dst")
        .select("src", "dst", (F.col("sv") - F.col("su")).alias("w"))
    )
    seeds = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 64 == 1)
        .select(F.col("p_partkey").alias("id"))
    )
    return G.bellman_ford_costs(
        seeds, we, max_rounds=BELLMAN_FORD_ROUNDS
    ).select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("cost").cast("long").alias("cost"),
    )


def _bellman_ford_sql(rounds: int) -> str:
    head = f"""
WITH e0 AS ({_PART_BRAND_EDGES_SQL}),
deg AS MATERIALIZED (
    SELECT n, CAST(COUNT(*) AS BIGINT) AS d
    FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1
),
dag AS MATERIALIZED (
    SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                THEN e0.a ELSE e0.b END AS u,
           CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                THEN e0.b ELSE e0.a END AS v
    FROM e0 JOIN deg da ON da.n = e0.a JOIN deg db ON db.n = e0.b
),
sz AS (SELECT p_partkey AS n, CAST(p_size AS BIGINT) AS s FROM part),
we AS MATERIALIZED (
    SELECT dag.u, dag.v, sv.s - su.s AS w
    FROM dag JOIN sz su ON su.n = dag.u JOIN sz sv ON sv.n = dag.v
),
b0 AS MATERIALIZED (
    SELECT p_partkey AS src, p_partkey AS node, CAST(0 AS BIGINT) AS cost
    FROM part WHERE p_partkey % 64 = 1
)"""
    body = ""
    for i in range(1, rounds + 1):
        p = i - 1
        body += f""",
b{i} AS MATERIALIZED (
    SELECT src, node, CAST(MIN(cost) AS BIGINT) AS cost FROM (
        SELECT src, node, cost FROM b{p}
        UNION ALL
        SELECT b.src, w.v AS node, b.cost + w.w
        FROM b{p} b JOIN we w ON w.u = b.node
    ) z GROUP BY 1, 2
)"""
    return (
        head
        + body
        + f"""
SELECT CAST(src AS BIGINT) AS src, CAST(node AS BIGINT) AS dst, cost
FROM b{rounds} WHERE src <> node OR cost < 0
"""
    )


BELLMAN_FORD_ROUNDS = 12

GRAPH_BELLMAN_FORD_SQL = _bellman_ford_sql(BELLMAN_FORD_ROUNDS)


ENTRIES.update({
    "graph_bellman_ford": SuiteEntry(
        graph_bellman_ford, GRAPH_BELLMAN_FORD_SQL, ("W6", "J7")
    ),
})


def graph_dag_longest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted longest path from any DAG source (round 8 — the stock
    gds.dag.longestPath surface; operators/graph.py dag_longest_paths):
    Bellman-Ford on NEGATED weights seeded at the zero-in-degree nodes,
    max-over-sources = negated min. Same signed unit-step weighted DAG
    as graph_bellman_ford; the oracle relaxes MAX directly (identical by
    the negation bijection, reached-so-far extrema at any budget)."""
    canon = _part_brand_edges(spark, sf_dir).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    dag = G._orient_edges(canon).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    sz = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("n"), F.col("p_size").cast("long").alias("s")
    )
    we = (
        dag.join(sz.select(F.col("n").alias("src"), F.col("s").alias("su")), "src")
        .join(sz.select(F.col("n").alias("dst"), F.col("s").alias("sv")), "dst")
        .select("src", "dst", (F.col("sv") - F.col("su")).alias("w"))
    )
    return G.dag_longest_paths(we, max_rounds=BELLMAN_FORD_ROUNDS).select(
        F.col("id").cast("long").alias("id"), "dist"
    )


def _dag_longest_sql(rounds: int) -> str:
    head = f"""
WITH e0 AS ({_PART_BRAND_EDGES_SQL}),
deg AS MATERIALIZED (
    SELECT n, CAST(COUNT(*) AS BIGINT) AS d
    FROM (SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1
),
dag AS MATERIALIZED (
    SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                THEN e0.a ELSE e0.b END AS u,
           CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                THEN e0.b ELSE e0.a END AS v
    FROM e0 JOIN deg da ON da.n = e0.a JOIN deg db ON db.n = e0.b
),
sz AS (SELECT p_partkey AS n, CAST(p_size AS BIGINT) AS s FROM part),
we AS MATERIALIZED (
    SELECT dag.u, dag.v, sv.s - su.s AS w
    FROM dag JOIN sz su ON su.n = dag.u JOIN sz sv ON sv.n = dag.v
),
srcs AS MATERIALIZED (
    SELECT DISTINCT u AS id FROM dag
    WHERE u NOT IN (SELECT v FROM dag)
),
m0 AS MATERIALIZED (
    SELECT id AS src, id AS node, CAST(0 AS BIGINT) AS cost FROM srcs
)"""
    body = ""
    for i in range(1, rounds + 1):
        p = i - 1
        body += f""",
m{i} AS MATERIALIZED (
    SELECT src, node, CAST(MAX(cost) AS BIGINT) AS cost FROM (
        SELECT src, node, cost FROM m{p}
        UNION ALL
        SELECT b.src, w.v AS node, b.cost + w.w
        FROM m{p} b JOIN we w ON w.u = b.node
    ) z GROUP BY 1, 2
)"""
    return (
        head
        + body
        + f"""
SELECT CAST(id AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist FROM srcs
UNION ALL
SELECT CAST(node AS BIGINT) AS id, CAST(MAX(cost) AS BIGINT) AS dist
FROM m{rounds} WHERE node <> src GROUP BY node
"""
    )


GRAPH_DAG_LONGEST_SQL = _dag_longest_sql(BELLMAN_FORD_ROUNDS)


ENTRIES.update({
    "graph_dag_longest_path": SuiteEntry(
        graph_dag_longest_path, GRAPH_DAG_LONGEST_SQL, ("W6", "A6")
    ),
})

def knn_vector_multidim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH approximate vector KNN (round 9 — the multi-property
    gds.knn.stream surface, operators/ann.py knn_vector_topk): 8 bands
    x 4 deterministic md5-derived sign hyperplanes generate the
    candidate pairs, exact integer dot/norm cosine verifies, top-5 per
    node. The candidate set is deterministic, so the WHOLE approximate
    result value-oracles exactly; recall@5 vs brute force is 0.69 on
    this table (measured, equal to candidate coverage — verification
    is exact)."""
    from phageclouds_graphdatabase_spark.operators import ann as _ann

    qv = _quantized(spark, sf_dir)
    return _ann.knn_vector_topk(
        qv.select(
            F.col("vec_id").cast("string").alias("id"),
            F.col("q").alias("vec"),
        ),
        k=5,
        planes=4,
        bands=8,
    )


KNN_VECTOR_MULTIDIM_SQL = "WITH " + _QUANT_ELEMS_SQL + """
, planes AS (
    SELECT h.range AS h, d.range AS d,
           CASE WHEN substr(md5(h.range || '-' || d.range), 1, 1)
                     IN ('8','9','a','b','c','d','e','f') THEN -1 ELSE 1 END AS coef
    FROM range(32) h, range(64) d
),
sums AS (
    SELECT e.vec_id, p.h, CAST(SUM(e.qe * p.coef) AS BIGINT) AS s
    FROM elems e JOIN planes p ON e.d = p.d
    GROUP BY e.vec_id, p.h
),
buckets AS (
    SELECT vec_id, h // 4 AS band,
           string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY h) AS bucket
    FROM sums GROUP BY vec_id, h // 4
),
cand AS (
    SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
dots AS (
    SELECT c.id1, c.id2, CAST(SUM(ea.qe * eb.qe) AS BIGINT) AS dot
    FROM cand c
    JOIN elems ea ON ea.vec_id = c.id1
    JOIN elems eb ON eb.vec_id = c.id2 AND eb.d = ea.d
    GROUP BY c.id1, c.id2
),
scored AS (
    SELECT d.id1, d.id2,
           CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)) AS similarity
    FROM dots d
    JOIN norms na ON na.vec_id = d.id1
    JOIN norms nb ON nb.vec_id = d.id2
    WHERE na.n2 > 0 AND nb.n2 > 0
)
SELECT CAST(id1 AS VARCHAR) AS id1, CAST(id2 AS VARCHAR) AS id2, similarity
FROM (SELECT *, row_number() OVER (
          PARTITION BY id1
          ORDER BY similarity DESC, CAST(id2 AS VARCHAR)) AS rn
      FROM scored) z
WHERE rn <= 5
"""


ENTRIES.update({
    "knn_vector_multidim": SuiteEntry(
        knn_vector_multidim, KNN_VECTOR_MULTIDIM_SQL, ("W5", "W6", "W1")
    ),
})
