"""Graph pattern-matching operators (SURVEY.md §2.3, §2.6 W6).

The reference expresses these as Cypher `MATCH` patterns executed inside
Neo4j (`/root/reference/phageclouds_gdb.py:56-67`); here each is a
composition of DataFrame joins so Catalyst plans them (broadcast semi-joins
for node sets, AQE skew splitting for hub nodes).

Conventions: an *edge* DataFrame has columns (src, dst, distance); a *node
set* is a single-column DataFrame named ``id`` (always kept distinct, always
joined semi -- never collected to the driver as an IN-list; SURVEY.md §3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


def as_node_set(df: DataFrame, col: str) -> DataFrame:
    """Project a column into a deduplicated node-set DataFrame ``(id)``."""
    return df.select(F.col(col).alias("id")).distinct()


def _endpoint_ids(e: DataFrame) -> DataFrame:
    """The node set ``(id)`` of an edge frame: the distinct ids at either
    end of its (src, dst) edges."""
    return (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )


# Hint cap for node-set broadcasts. Query-sized seed sets (the reference's
# use case: hundreds to thousands of accessions) stay far below it; a
# cloud-membership node set from a large component (the 100M rehearsal
# produced 38.4M-node clouds) blows past it and must NOT be force-broadcast
# -- an F.broadcast hint overrides AQE's judgment and OOMs the executors.
BROADCAST_CAP_BYTES = 64 << 20


def _estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate (no job is triggered).
    None when the JVM plan is unreachable (e.g. Spark Connect)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def maybe_broadcast(df: DataFrame, cap: int = BROADCAST_CAP_BYTES) -> DataFrame:
    """Broadcast-hint ``df`` only when Catalyst estimates it under ``cap``.

    Above the cap (or when no estimate is available and the plan could be
    huge) the frame is returned unhinted: AQE picks broadcast at runtime if
    the actual size turns out small, and the runtime bloom filter
    (session.py) still prunes the scan side of the semi-join. Catalyst
    *over*-estimates derived sets (join-product bounds), which fails safe
    here -- an overestimate only costs the hint, never an OOM."""
    sz = _estimated_bytes(df)
    if sz is not None and 0 <= sz <= cap:
        return F.broadcast(df)
    return df


def expand(
    seeds: DataFrame,
    edges: DataFrame,
    threshold: float | None = None,
    directed: bool = True,
) -> DataFrame:
    """1-hop expand (J2): from seed nodes, follow ``sharesDNA`` edges with
    ``distance <= threshold``; result node set = seeds UNION targets.

    ``directed=True`` reproduces the reference's semantics exactly: edges are
    stored once per unordered pair with arbitrary direction, and every Cypher
    match is directed (`/root/reference/phageclouds_gdb.py:56-58`), so
    "neighbors" silently means *outgoing* neighbors. ``directed=False`` is
    the correct-semantics variant (SURVEY.md §2.1 J2 golden-parity trap).

    Seeds with no qualifying edge are kept (matches the OPTIONAL MATCH
    expand of `/root/reference/phageclouds_gdb_family.py:94`, J4).
    """
    e = edges if threshold is None else edges.filter(F.col("distance") <= F.lit(threshold))
    # seeds is usually small relative to edges -> hint the semi side, but
    # only under the size cap (a giant seed set must go through AQE).
    bseeds = maybe_broadcast(seeds)
    out = e.join(bseeds, e["src"] == seeds["id"], "left_semi").select(
        F.col("dst").alias("id")
    )
    frontier = out
    if not directed:
        inc = e.join(bseeds, e["dst"] == seeds["id"], "left_semi").select(
            F.col("src").alias("id")
        )
        frontier = out.unionByName(inc)
    return seeds.unionByName(frontier).distinct()


def induced_subgraph(
    node_set: DataFrame,
    edges: DataFrame,
    threshold: float | None = None,
) -> DataFrame:
    """Induced-subgraph edge extraction (J3): edges whose *both* endpoints lie
    in ``node_set`` and pass the distance threshold.

    The reference round-trips the node set as a Python list literal inside
    the Cypher text (`/root/reference/phageclouds_gdb.py:64-67`) -- an
    O(|nodes|) query string. Here it is two semi-joins -- broadcast-hinted
    only while the node set's estimated size stays under
    ``BROADCAST_CAP_BYTES`` (query-sized clouds), shuffle + AQE + the
    runtime bloom filter beyond it
    (spark.sql.optimizer.runtime.bloomFilter.enabled, see session.py).
    """
    e = edges if threshold is None else edges.filter(F.col("distance") <= F.lit(threshold))
    ns = node_set.select("id")
    bns = maybe_broadcast(ns)
    e = e.join(bns, e["src"] == ns["id"], "left_semi")
    e = e.join(bns, e["dst"] == ns["id"], "left_semi")
    return e


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node out/in/total degree over an edge set (analytics surface for
    the 'clouds'; not in the reference scripts but implied by README's cloud
    analysis)."""
    out_d = edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("out_degree"))
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("in_degree"))
    return (
        out_d.join(in_d, "id", "full_outer")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


# Tuning constants of the iterative operators. Each picks between two
# value-identical code paths; tests patch them to cover both.
#
# Hop bound at or under which the BFS primitives UNROLL LAZILY: all rounds
# compose into one query instead of a per-round checkpoint + emptiness
# probe. At small k the whole BFS is a handful of MB-scale shuffles, so
# the eager loop's ~2 sequential jobs per round dominate (sampled
# betweenness 4.8-5.2 s eager vs 3.9-4.5 s lazy at sf0.1). The lazy plan
# grows ~2^k (the visited frame is consumed twice per round), so deep BFS
# (exact closeness/harmonic, k=30) keeps the checkpointed loop.
BFS_LAZY_K = 4
# Iteration bound at or under which a fixed-iteration LINEAR loop composes
# its rounds into one lazy query: at the default 2 iterations each round's
# shuffle is a few MB and the per-round job dominates. Read by _push_sum
# (pagerank, personalized pagerank, katz, article rank, eigenvector, HITS),
# fastrp_embeddings' propagation layers and GraphFrame.labelPropagation.
ITER_LAZY = 4
# h-index iterations composed into each checkpointed query of a
# fixed-rounds core decomposition (best of {1, 2, 4} at sf0.1).
COREDEC_ROUND_BATCH = 4
# Row cap under which an iterative operator broadcasts its per-round
# node-state frame (|V| rows of (id, value), ~150 MB as a hash relation at
# 4M rows) instead of shuffle-joining it against the static edge frame.
LOOP_BCAST_ROWS = 4_000_000
# |E| cap under which node similarity broadcasts its packed member table.
NODESIM_MEMB_BCAST_ROWS = 4_000_000


def _ckpt(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Cut the lineage of iterative loop state, in two steps.

    1. Materialize: ``localCheckpoint`` stores blocks on executors (fast,
       lost on executor failure); ``reliable`` writes an eager
       ``checkpoint`` to the SparkContext checkpoint dir (HDFS/S3 on a
       cluster), which survives executor loss.
    2. Rebuild the frame over the materialized row RDD. A checkpointed
       LogicalRDD keeps its origin plan's size estimate
       (``LogicalRDD.rewriteStatsAndConstraints``), and a round that
       joins its state k times multiplies that estimate by ~k: the
       sizeInBytes BigInt gains digits every round until Catalyst's stats
       visits dominate the loop (components on a shuffled 3,000-node path:
       20 -> 125,913 digits over 17 cuts). The rebuilt relation carries
       the session's default size estimate, a constant, so a loop's cost
       tracks its live data; AQE still plans from runtime sizes."""
    spark = df.sparkSession
    if reliable:
        if spark.sparkContext.getCheckpointDir() is None:
            raise ValueError(
                "a reliable checkpoint needs a checkpoint directory: pass "
                "checkpoint_dir or call SparkContext.setCheckpointDir first"
            )
        ck = df.checkpoint(eager=True)
    else:
        ck = df.localCheckpoint()
    jdf = ck._jdf
    return DataFrame(
        spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        ),
        spark,
    )


def _two_legs(fa, fb):
    """Run two INDEPENDENT job-submitting thunks concurrently and return
    both results (round 9, guide §2.6 "overlap independent jobs"): the
    directed betweenness/stress procs build a forward and a reversed
    sigma-BFS that share nothing until the closing join, but the eager
    sequential driver code serializes them — while one leg's last stages
    drain, the other leg's tasks can back-fill the idle executors.
    ``inheritable_thread_target`` is the documented PySpark way to run
    driver threads so JVM thread-locals (job description/group) are
    inherited and cleaned up."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        a = pool.submit(inheritable_thread_target(fa))
        b = pool.submit(inheritable_thread_target(fb))
        return a.result(), b.result()


def _components_local(
    edges: DataFrame, nodes: DataFrame | None
) -> DataFrame:
    """Driver-local union-find for graphs under the small-graph threshold.

    Union-by-min with path compression: roots always carry the MIN id of
    their component, so labels are identical to the distributed min-label
    loop (comparisons are Python string/int ordering == Spark's binary
    ordering for the ASCII/numeric ids this engine uses). One Arrow
    transfer in, one createDataFrame out -- no iterative jobs at all."""
    id_type = edges.schema["src"].dataType
    pdf = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).toPandas()

    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pdf["a"], pdf["b"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo  # union by min: the root IS the component label
    if nodes is not None:
        for (n,) in nodes.select("id").toPandas().itertuples(index=False):
            find(n)
    labels = [(x, find(x)) for x in list(parent)]
    schema = StructType(
        [StructField("id", id_type, False), StructField("component", id_type, False)]
    )
    return edges.sparkSession.createDataFrame(labels, schema)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iterations: int = 50,
    method: str = "contract",
    checkpoint_dir: str | None = None,
    relabel_ids: bool | None = None,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components (W6) -- the "phage clouds" themselves: the paper's
    cloud = component of the distance-thresholded graph (reference README.md:3
    describes clouds; the scripts only ever materialize one neighborhood).

    Two DataFrame-native implementations (both deterministic: final label =
    min node id in the component):

    - ``contract`` (default): per round, map every node to the min id of its
      closed neighborhood, compress the pointer forest (pointer jumping --
      the mapping is strictly decreasing, hence acyclic), compose into the
      running node→label table, then REWRITE the edge list through the
      mapping, dropping self-edges/duplicates. Near-cliques collapse to
      supernodes immediately, so per-round cost tracks the REMAINING edges:
      measured 2.49M-edge graph → rounds of 2.49M → 29k → 0 edges, 24s vs
      82s for hashmin on local[32], and 2.2s vs 2.5s on the 25k-edge sf0.1
      graph. O(log n) rounds on chains.
    - ``hashmin``: min-label propagation over the full edge list plus
      pointer jumping, no contraction. Kept as the simpler reference
      implementation and differential-testing twin.

    Lineage is truncated each round (the iterative-Spark failure mode,
    SURVEY.md §4) by :func:`_ckpt`: ``localCheckpoint`` by default, or
    reliable ``checkpoint()`` when ``checkpoint_dir`` is set (pass an HDFS/S3 path
    on a cluster to survive executor loss mid-run).

    ``local_threshold``: when the RAW edge count is at or under this bound
    (default 1M rows, well inside driver memory), skip the iterative loop
    entirely and run a driver-local union-find -- the same adaptive
    small-input cutover as a broadcast join, trading one cheap count job
    for the whole round loop. Labels are identical (union-by-min == the
    distributed min-label fixpoint). Pass 0 to force the distributed path;
    at rehearsal scale (195M edges) the count costs seconds and the
    distributed loop runs as before.

    ``relabel_ids`` (default: auto = on for string ids) dictionary-encodes
    node ids to longs before the loop and decodes after -- the contract
    GraphX imposes on every graph (VertexId = Long), for the same reason:
    every round shuffles and compares ids O(edges) times, and an 8-byte
    monomorphic key beats a variable-length string in shuffle bytes, sort
    comparisons, and agg hash probes. The final label is still the MIN
    ORIGINAL id per component (decoded via a per-component min), so the
    result is identical either way.
    """
    # limit(N+1).count(), not count(): the probe only has to answer
    # "more than N rows?", and CollectLimit stops the scan as soon as N+1
    # rows surface -- on a 195M-edge input the decision costs a partial
    # scan, not a full pass.
    if (
        local_threshold
        and edges.limit(local_threshold + 1).count() <= local_threshold
    ):
        return _components_local(edges, nodes)
    reliable = checkpoint_dir is not None
    if reliable:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    if relabel_ids is None:
        relabel_ids = isinstance(edges.schema["src"].dataType, StringType)
    if relabel_ids:
        ids = edges.select(F.col("src").alias("id")).unionByName(
            edges.select(F.col("dst").alias("id"))
        )
        if nodes is not None:
            ids = ids.unionByName(nodes.select("id"))
        # Eager checkpoint pins the generated ids: monotonically_increasing_id
        # is partitioning-dependent, so the mapping must be materialized once
        # and reused, never recomputed per probe.
        mapping = _ckpt(
            ids.distinct().withColumn("_nid", F.monotonically_increasing_id()),
            reliable,
        )
        enc_src = mapping.select(F.col("id").alias("src"), F.col("_nid").alias("_sn"))
        enc_dst = mapping.select(F.col("id").alias("dst"), F.col("_nid").alias("_dn"))
        edges_l = (
            edges.select("src", "dst")
            .join(enc_src, "src")
            .join(enc_dst, "dst")
            .select(F.col("_sn").alias("src"), F.col("_dn").alias("dst"))
        )
        comp_l = connected_components(
            edges_l,
            nodes=mapping.select(F.col("_nid").alias("id")),
            max_iterations=max_iterations,
            method=method,
            checkpoint_dir=checkpoint_dir,
            relabel_ids=False,
            local_threshold=0,  # outer count already exceeded the bound
        )
        decoded = (
            comp_l.withColumnRenamed("id", "_nid")
            .join(mapping, "_nid")
            .select("id", "component")
        )
        labels = decoded.groupBy("component").agg(F.min("id").alias("_label"))
        return decoded.join(labels, "component").select(
            "id", F.col("_label").alias("component")
        )
    # Canonical-pair dedup: distinct() on (least, greatest) pushes E rows
    # through the shuffle instead of 2E for distinct-after-mirror, and the
    # mirror of a distinct a<b set is disjoint from it, so the union needs
    # no second dedup. Self-loops drop out (they never join components) but
    # only after the node set is derived, so a node seen solely in a
    # self-loop still gets its singleton label.
    canon = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    if nodes is None:
        nodes = (
            canon.select(F.col("a").alias("id"))
            .unionByName(canon.select(F.col("b").alias("id")))
            .distinct()
        )
    pairs = canon.filter(F.col("a") != F.col("b"))
    und = _ckpt(
        pairs.unionByName(pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))),
        reliable,
    )
    if method == "hashmin":
        return _components_hashmin(und, nodes, max_iterations, reliable)
    if method == "contract":
        return _components_contract(und, nodes, max_iterations, reliable)
    raise ValueError(f"unknown method {method!r} (hashmin|contract)")


def _components_hashmin(
    und: DataFrame, nodes: DataFrame, max_iterations: int, reliable: bool = False
) -> DataFrame:
    labels = _ckpt(nodes.select("id", F.col("id").alias("component")), reliable)
    for _ in range(max_iterations):
        neighbor_min = (
            und.join(labels, und["b"] == labels["id"])
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = labels.join(neighbor_min, "id", "left_outer").select(
            "id",
            F.least(
                F.col("component"), F.coalesce("nbr_component", F.col("component"))
            ).alias("component"),
            (F.col("nbr_component") < F.col("component")).alias("_changed"),
        )
        # pointer jumping: component <- component[component]; labels only
        # ever point within their own component, so the invariant holds.
        parents = updated.select(
            F.col("id").alias("component"), F.col("component").alias("_parent")
        )
        jumped = (
            updated.join(parents, "component", "left_outer")
            .select(
                "id",
                F.coalesce("_parent", "component").alias("component"),
                (
                    F.col("_changed")
                    | (F.coalesce("_parent", "component") < F.col("component"))
                ).alias("_changed"),
            )
        )
        jumped = _ckpt(jumped, reliable)
        n_changed = jumped.filter(F.col("_changed")).count()
        labels = jumped.drop("_changed")
        if n_changed == 0:
            break
    return labels


def _components_contract(
    und: DataFrame, nodes: DataFrame, max_iterations: int, reliable: bool = False
) -> DataFrame:
    anchor = nodes.select("id", F.col("id").alias("component"))
    cur = und
    for _ in range(max_iterations):
        if cur.isEmpty():
            break
        # f: supernode -> min(closed neighborhood); strictly non-increasing.
        f = (
            cur.groupBy(F.col("a").alias("id"))
            .agg(F.min("b").alias("m"))
            .select("id", F.least(F.col("id"), F.col("m")).alias("c"))
        )
        # pointer jumping: c <- f(c) to compress chains within the round.
        parent = f.select(F.col("id").alias("c"), F.col("c").alias("_p"))
        f = f.join(parent, "c", "left_outer").select(
            "id", F.coalesce("_p", "c").alias("c")
        )
        f = _ckpt(f, reliable)
        # compose into the running labels lazily (anchor.component lives in
        # the current supernode space); rounds are few (O(log n)) and every
        # f is checkpointed, so the join chain stays shallow and cheap --
        # skipping the per-round anchor materialization saves one job/round.
        fmap = f.select(F.col("id").alias("component"), F.col("c").alias("_new"))
        anchor = anchor.join(fmap, "component", "left_outer").select(
            "id", F.coalesce("_new", "component").alias("component")
        )
        # contract the graph through f.
        fa = f.select(F.col("id").alias("a"), F.col("c").alias("_ca"))
        fb = f.select(F.col("id").alias("b"), F.col("c").alias("_cb"))
        cur = (
            cur.join(fa, "a")
            .join(fb, "b")
            .select(F.col("_ca").alias("a"), F.col("_cb").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        # keep both directions so min(closed nbhd) sees every neighbor;
        # dedup on the canonical orientation (E' shuffle rows, not 2E') and
        # mirror afterwards -- disjoint by a<b, so no second distinct.
        canon = cur.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        ).distinct()
        cur = _ckpt(
            canon.unionByName(canon.select(F.col("b").alias("a"), F.col("a").alias("b"))),
            reliable,
        )
    return anchor


def k_hop(
    seeds: DataFrame,
    edges: DataFrame,
    k: int,
    threshold: float | None = None,
    directed: bool = True,
) -> DataFrame:
    """Variable-length path expand -- the Cypher
    ``MATCH (s)-[:sharesDNA*1..k]->(n)`` generalization of J2: BFS levels
    ``(id, hops)`` where ``hops`` is the MINIMUM hop count from any seed,
    bounded by ``k``. Frontier-at-a-time: each round joins only the NEW
    frontier against the edge list and anti-joins the visited set, so
    per-round cost tracks frontier edges, not the whole reachable set
    (AQE broadcasts the frontier while it is small; rounds checkpoint to
    keep lineage flat). Early-exits when a frontier empties."""
    e = edges if threshold is None else edges.filter(F.col("distance") <= F.lit(threshold))
    e = e.select("src", "dst")
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.localCheckpoint()  # re-joined every BFS round
    # Round 9: lazy small-k unroll (same gate/rationale as
    # multi_source_bfs_levels — 2 checkpoint jobs + an emptiness probe per
    # round is pure latency at small k; exchange reuse dedups the shared
    # level subplans, an exhausted frontier just yields empty joins)
    lazy = k <= BFS_LAZY_K
    visited = seeds.select("id").distinct().withColumn("hops", F.lit(0))
    if not lazy:
        visited = visited.localCheckpoint()
    frontier = visited.select("id")
    for i in range(1, k + 1):
        nxt = (
            e.join(frontier, e["src"] == frontier["id"], "left_semi")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
            .withColumn("hops", F.lit(i))
        )
        if not lazy:
            nxt = _ckpt(nxt)
            if nxt.isEmpty():
                break
        visited = visited.unionByName(nxt)
        if not lazy:
            visited = _ckpt(visited)
        frontier = nxt.select("id")
    return visited


def multi_source_bfs_levels(
    roots: DataFrame,
    edges: DataFrame,
    k: int,
    threshold: float | None = None,
    directed: bool = True,
) -> DataFrame:
    """Per-root BFS levels ``(root, id, d)`` for every root in ``roots`` —
    the primitive under sampled centralities (harmonic/closeness): unlike
    :func:`k_hop` (min hops from ANY seed) the visited state is keyed by
    ``(root, id)``, so each root's frontier expands independently in the
    same joins. d = exact hop distance root->id, 1..k (the root itself is
    omitted).

    Scale: state is O(|roots| x reach), which is why production closeness
    SAMPLES roots — pass a bounded sample, never the full vertex set. Each
    round shuffles only frontier-adjacent edges keyed by (root, id); rounds
    checkpoint (_ckpt) to keep lineage flat (same discipline as k_hop)."""
    e = edges if threshold is None else edges.filter(F.col("distance") <= F.lit(threshold))
    e = e.select("src", "dst")
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.localCheckpoint()  # re-joined every BFS round
    lazy = k <= BFS_LAZY_K
    level0 = (
        roots.select(F.col("id").alias("root"))
        .distinct()
        .select("root", F.col("root").alias("id"), F.lit(0).alias("d"))
    )
    if not lazy:
        level0 = level0.localCheckpoint()
    # only each round's NEW frontier materializes; the visited set for the
    # anti-join is the lazy union of already-checkpointed levels (no
    # re-materialization of old rows per round). Round 9: at small k the
    # rounds compose into ONE query instead (no per-round checkpoint /
    # isEmpty probe — see BFS_LAZY_K); exchange reuse dedups the shared
    # level subplans, and the early exit is dropped (an exhausted frontier
    # just yields empty joins for the remaining unrolled rounds).
    levels = [level0]
    frontier = level0.select("root", "id")
    for i in range(1, k + 1):
        visited = levels[0]
        for lv in levels[1:]:
            visited = visited.unionByName(lv)
        nxt = (
            frontier.join(e, frontier["id"] == e["src"])
            .select("root", F.col("dst").alias("id"))
            .distinct()
            .join(visited, ["root", "id"], "left_anti")
            .withColumn("d", F.lit(i))
        )
        if not lazy:
            nxt = _ckpt(nxt)
            if nxt.isEmpty():
                break
        levels.append(nxt)
        frontier = nxt.select("root", "id")
    out = levels[1] if len(levels) > 1 else level0.filter(F.lit(False))
    for lv in levels[2:]:
        out = out.unionByName(lv)
    return out


def closeness_centrality_scaled(
    roots: DataFrame,
    edges: DataFrame,
    k: int = 3,
    threshold: float | None = None,
    directed: bool = False,
    scale: int = 1_000_000,
    wasserman_faust: bool = False,
) -> DataFrame:
    """Sampled CLOSENESS centrality in exact integers (round 7 — the
    stock ``gds.closeness.stream`` sibling of the harmonic proc): per
    node, over the sampled roots that reach it within ``k`` hops,

    - default: ``score = n_reached · scale div sum_d`` — the sampled
      analog of (reachable−1)/Σd, GDS's raw closeness;
    - ``wasserman_faust=True``: ``score = n_reached² · scale div
      (sum_d · |roots|)`` — the Wasserman-Faust component-size
      correction with |roots| standing in for n−1 (the sampled form of
      GDS's ``useWassermanFaust``), which damps nodes reached by few
      roots instead of rewarding their short in-sample distances.

    All arithmetic is integer (one truncating div), so the value is
    reproducible cross-engine at any depth — unlike harmonic's ×6
    scaling there is no depth cap. Sampling roots is the production
    closeness shape: state stays O(|roots| × reach) (the
    multi_source_bfs_levels primitive underneath; one driver-side
    count() for |roots| in the WF form only). Returns
    (id, closeness_scaled, n_reached, sum_d); nodes no sampled root
    reaches are absent (closeness of an unreached node is undefined)."""
    lev = multi_source_bfs_levels(
        roots, edges, k=k, threshold=threshold, directed=directed
    )
    agg = lev.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_reached"),
        F.sum("d").cast("long").alias("sum_d"),
    )
    if wasserman_faust:
        n_roots = max(1, roots.select("id").distinct().count())
        expr = F.expr(
            f"(n_reached * n_reached * {scale}L) div (sum_d * {n_roots}L)"
        )
    else:
        expr = F.expr(f"(n_reached * {scale}L) div sum_d")
    return agg.select(
        "id",
        expr.cast("long").alias("closeness_scaled"),
        "n_reached",
        "sum_d",
    )


def closeness_centrality_exact(
    edges: DataFrame,
    max_depth: int = 30,
    threshold: float | None = None,
    directed: bool = False,
    wasserman_faust: bool = False,
    max_nodes: int = 200_000,
) -> DataFrame:
    """EXACT closeness centrality — the stock ``gds.closeness.stream``
    value parity opt-in (round 8, VERDICT r7 ask #7): ALL nodes are
    roots, BFS runs to the fixpoint (bounded by ``max_depth`` — the
    both-budgeted oracle form, cf. core_decomposition's round budget),
    and the score is stock's [0,1] float

    - default:          ``n_reached / sum_d``
    - ``wasserman_faust``: ``n_reached² / (sum_d · (n − 1))``

    each ONE correctly-rounded double division of exact longs (n is the
    total node count), so the value hashes identically cross-engine —
    the eigenvector-``normalized`` pattern applied to the last default
    divergence with a feasible exact form. The sampled integer form
    (:func:`closeness_centrality_scaled`) stays the scale default:
    all-roots state is O(|V| × reach) = O(|V|²) on a connected graph,
    so this guards on ``max_nodes`` (one bounded count job) and refuses
    larger graphs instead of silently dying at scale. Returns
    (id, score, n_reached, sum_d); unreached-by-anyone nodes are
    absent (their closeness is undefined), matching the sampled form."""
    v = _endpoint_ids(edges)
    n = v.count()
    if n > max_nodes:
        raise ValueError(
            f"exact closeness is all-roots O(|V|^2) state: |V|={n} exceeds "
            f"max_nodes={max_nodes}; use the sampled form "
            "(closeness_centrality_scaled) at this scale"
        )
    lev = multi_source_bfs_levels(
        v, edges, k=max_depth, threshold=threshold, directed=directed
    )
    agg = lev.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_reached"),
        F.sum("d").cast("long").alias("sum_d"),
    )
    if wasserman_faust:
        score = (
            F.col("n_reached") * F.col("n_reached")
        ).cast("double") / (F.col("sum_d") * F.lit(max(1, n - 1))).cast(
            "double"
        )
    else:
        score = F.col("n_reached").cast("double") / F.col("sum_d").cast(
            "double"
        )
    return agg.select(
        "id", score.alias("score"), "n_reached", "sum_d"
    )


def harmonic_centrality_exact(
    edges: DataFrame,
    max_depth: int = 30,
    threshold: float | None = None,
    directed: bool = False,
    max_nodes: int = 200_000,
) -> DataFrame:
    """EXACT harmonic centrality — the stock
    ``gds.closeness.harmonic.stream`` value parity opt-in (round 9,
    VERDICT r8 "What's missing" #1, closing the last sampled-only
    centrality): ALL nodes are roots, BFS to the ``max_depth``-budgeted
    fixpoint, score = stock's [0,1] float ``(Σ_d cnt_d/d) / (n − 1)``
    where cnt_d counts the roots at distance exactly d.

    Σ 1/d over individual reach rows is NOT cross-engine-stable (the
    aggregate's addition order is nondeterministic and float addition
    is not associative), so the sum is restructured: per node, the
    EXACT integer count per depth (a ≤ ``max_depth``-column conditional
    aggregate), then one FIXED left-to-right chain
    ``cnt_1/1.0 + cnt_2/2.0 + … + cnt_D/D.0`` — every term is an IEEE
    double division of exact integers and the addition order is pinned
    by the expression tree, so an oracle spelling the same chain hashes
    identically (the closeness_centrality_exact pattern, extended from
    one division to a fixed-order dot product). Same ``max_nodes``
    guard — all-roots state is O(|V|²); the ×6-scaled sampled form
    stays the scale default. Returns (id, score, n_reached); nodes
    reached by no one are absent."""
    if max_depth < 1 or max_depth > 64:
        raise ValueError(
            f"max_depth must be 1..64 (got {max_depth}): the per-depth "
            "column pivot is the exactness mechanism"
        )
    v = _endpoint_ids(edges)
    n = v.count()
    if n > max_nodes:
        raise ValueError(
            f"exact harmonic is all-roots O(|V|^2) state: |V|={n} exceeds "
            f"max_nodes={max_nodes}; use the sampled x6-scaled form at "
            "this scale"
        )
    lev = multi_source_bfs_levels(
        v, edges, k=max_depth, threshold=threshold, directed=directed
    )
    cnt = lev.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_reached"),
        *[
            F.sum(F.when(F.col("d") == d, 1).otherwise(0))
            .cast("long")
            .alias(f"_c{d}")
            for d in range(1, max_depth + 1)
        ],
    )
    acc = F.col("_c1").cast("double") / F.lit(1.0)
    for d in range(2, max_depth + 1):
        acc = acc + F.col(f"_c{d}").cast("double") / F.lit(float(d))
    score = acc / F.lit(float(max(1, n - 1)))
    return cnt.select("id", score.alias("score"), "n_reached")


def bfs_sigma(
    roots: DataFrame,
    edges: DataFrame,
    k: int,
    threshold: float | None = None,
    directed: bool = True,
) -> DataFrame:
    """Per-root BFS levels WITH shortest-path counts ``(root, id, d,
    sigma)`` — the sigma-carrying sibling of
    :func:`multi_source_bfs_levels` and the forward phase of
    betweenness-family centralities (Brandes): sigma(root, v) = the number
    of distinct shortest root→v paths, accumulated level-synchronously
    (sigma of a new frontier node = sum of sigma over its previous-level
    in-neighbors — exact integers, so the result is order-independent).
    d runs 1..k (the root's own d=0/sigma=1 row is omitted).

    Scale: identical shape to multi_source_bfs_levels — state
    O(|roots| × reach), per round one frontier⋈edges join + one
    groupBy(root, id) sum + one anti-join against the lazily-unioned
    visited levels; sample the roots, never pass the full vertex set."""
    e = edges if threshold is None else edges.filter(
        F.col("distance") <= F.lit(threshold)
    )
    e = e.select("src", "dst")
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.localCheckpoint()
    # Round 9: same lazy small-k unroll as multi_source_bfs_levels (see
    # BFS_LAZY_K) — one composed query instead of 2 jobs + an AQE re-plan
    # per round; measured 4.8–5.2 → 3.9–4.5 s on sampled betweenness.
    lazy = k <= BFS_LAZY_K
    level0 = (
        roots.select(F.col("id").alias("root"))
        .distinct()
        .select(
            "root",
            F.col("root").alias("id"),
            F.lit(0).alias("d"),
            F.lit(1).cast("long").alias("sigma"),
        )
    )
    if not lazy:
        level0 = level0.localCheckpoint()
    levels = [level0]
    frontier = level0.select("root", "id", "sigma")
    for i in range(1, k + 1):
        visited = levels[0].select("root", "id")
        for lv in levels[1:]:
            visited = visited.unionByName(lv.select("root", "id"))
        nxt = (
            frontier.join(e, frontier["id"] == e["src"])
            .groupBy("root", F.col("dst").alias("nid"))
            .agg(F.sum("sigma").alias("sigma"))
            .withColumnRenamed("nid", "id")
            .join(visited, ["root", "id"], "left_anti")
            .select("root", "id", F.lit(i).alias("d"), "sigma")
        )
        if not lazy:
            nxt = _ckpt(nxt)
            if nxt.isEmpty():
                break
        levels.append(nxt)
        frontier = nxt.select("root", "id", "sigma")
    out = levels[1] if len(levels) > 1 else level0.filter(F.lit(False))
    for lv in levels[2:]:
        out = out.unionByName(lv)
    return out


def sample_roots(
    edges: DataFrame,
    n: int,
    max_degree_pct: float = 0.90,
    directed: bool = False,
) -> DataFrame:
    """Degree-aware DETERMINISTIC root sample for the betweenness family
    (the VERDICT-r4 scale fix, now code): reject nodes above the
    ``max_degree_pct`` degree quantile, then take the first ``n``
    eligible nodes by ``(xxhash64(id), id)``.

    Why: sampled sigma-BFS state is O(|roots| × reach); a root placed
    inside a dense core reaches the whole core within the hop bound, so
    roots sampled into a near-clique inflate state toward O(roots × core)
    — measured at 1007.8 s vs 10.6 s for the same graph size with roots
    outside the core (SCALE.md, 2M-skew tier, 264k near-clique). Core
    membership is cheap to detect from the degree table: clique nodes sit
    at the top of the degree distribution, so a quantile cut excludes
    them without ever materializing the core.

    The threshold is the TIGHTER of two cuts, both exact and computed
    from one degree HISTOGRAM (``groupBy(degree).count()`` collapses |V|
    rows to |distinct degrees| — bounded by the max degree, KBs in
    practice — collected for a driver-side cumulative scan;
    ``percentile_approx`` would be one job cheaper but its summary-merge
    order can move the cut between runs):

    1. the largest degree whose cumulative node count stays within
       ``max_degree_pct`` (excludes the top tail), and
    2. 4 × the median degree (excludes a dense core even when it holds
       MORE than 1 − pct of the nodes — the 2M-skew tier's clique is
       13.2% of nodes, so a 0.90 quantile alone would leave its
       lowest-degree slice eligible; core degrees sit an order of
       magnitude above the median, so the median cap catches all of it
       while a Poisson-ish uniform graph sails under 4×median).

    Floored at the minimum degree so the eligible set is never empty.
    Two narrow jobs per sample (histogram + limit), both over the degree
    table, never the edges.

    Degenerate case: if the whole graph is one near-clique all degrees
    are equal-ish, both cuts pass everything, and the sample falls back
    to hash-order — there is no "outside the core" to prefer; lower
    ``max_depth`` is the remaining knob there."""
    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    deg = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    hist = sorted(
        (r["degree"], r["cnt"])
        for r in deg.groupBy("degree").agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    if not hist:
        return deg.select("id")
    total = sum(c for _, c in hist)
    cut = max(1, int(total * max_degree_pct))
    run, q_threshold = 0, hist[0][0]
    for d, c in hist:
        if run + c > cut and run > 0:
            break
        run += c
        q_threshold = d
    half, run2, median = (total + 1) // 2, 0, hist[-1][0]
    for d, c in hist:
        run2 += c
        if run2 >= half:
            median = d
            break
    threshold = max(min(q_threshold, 4 * median), hist[0][0])
    return (
        deg.filter(F.col("degree") <= F.lit(threshold))
        .select("id")
        .orderBy(F.xxhash64("id"), "id")
        .limit(n)
    )


def stress_centrality_sampled(
    edges: DataFrame,
    roots: DataFrame,
    max_depth: int = 3,
    threshold: float | None = None,
    directed: bool = False,
) -> DataFrame:
    """Sampled hop-bounded STRESS centrality (Shimbel): for each node v,
    the number of shortest s→t paths passing through v, summed over
    sampled root pairs (s < t) within ``max_depth`` of each other — the
    integer-EXACT member of the betweenness family (betweenness divides
    each term by sigma_st, a rational; stress keeps the raw count, so the
    fixed-sample result is bit-identical against a SQL oracle, the same
    trade harmonic centrality makes vs closeness).

    sigma_st(v) = sigma(s→v) · sigma(v→t), counted when
    d(s,v) + d(v,t) = d(s,t) (the standard Brandes pair-dependency
    numerator); undirected graphs read sigma(v→t) from the BFS rooted at
    t. One sigma-BFS from the sample (state O(|roots| × reach)), then a
    three-way join keyed by v — no all-pairs stage anywhere.

    ``directed=True`` (round 6 — clears the ADVICE-r4 fail-fast): the
    t-side leg can no longer reuse the forward BFS (sigma(t→v) ≠
    sigma(v→t) on a digraph), so a SECOND sigma-BFS runs over the
    REVERSED edges — sigma from root t over rev(E) IS sigma(v→t) over E
    — and pairs are ORDERED (every (s, t) with s ≠ t, no root < id
    halving; an s→t path says nothing about t→s). Cost: exactly 2× the
    undirected BFS state, same O(|roots| × reach) shape."""
    e = edges if threshold is None else edges.filter(
        F.col("distance") <= F.lit(threshold)
    )
    e = e.select("src", "dst")
    rset = roots.select(F.col("id").alias("t")).distinct()
    if directed:
        # the two sigma-BFS legs are independent until the closing join —
        # build them concurrently so one leg's tail back-fills the other's
        # idle slots (guide §2.6 via _two_legs)
        rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        sig, sig_t = _two_legs(
            lambda: bfs_sigma(
                roots, e, max_depth, directed=True
            ).localCheckpoint(),
            lambda: bfs_sigma(
                roots, rev, max_depth, directed=True
            ).localCheckpoint(),
        )
        pairs = sig.join(rset, sig["id"] == rset["t"], "left_semi").select(
            F.col("root").alias("s"),
            F.col("id").alias("t"),
            F.col("d").alias("dst_d"),
        )
    else:
        sig = bfs_sigma(roots, e, max_depth, directed=False).localCheckpoint()
        sig_t = sig
        pairs = (
            sig.join(rset, sig["id"] == rset["t"], "left_semi")
            .filter(F.col("root") < F.col("id"))
            .select(
                F.col("root").alias("s"),
                F.col("id").alias("t"),
                F.col("d").alias("dst_d"),
            )
        )
    a = sig.select(
        F.col("root").alias("s"),
        F.col("id").alias("v"),
        F.col("d").alias("da"),
        F.col("sigma").alias("sa"),
    )
    b = sig_t.select(
        F.col("root").alias("t"),
        F.col("id").alias("v"),
        F.col("d").alias("db"),
        F.col("sigma").alias("sb"),
    )
    return (
        pairs.join(a, "s")
        .join(b, ["t", "v"])
        .filter(
            (F.col("da") + F.col("db") == F.col("dst_d"))
            & (F.col("v") != F.col("s"))
            & (F.col("v") != F.col("t"))
        )
        .groupBy(F.col("v").alias("id"))
        .agg(F.sum(F.col("sa") * F.col("sb")).cast("long").alias("stress"))
    )


def betweenness_centrality_scaled(
    edges: DataFrame,
    roots: DataFrame,
    max_depth: int = 3,
    scale: int = 1_000_000,
    threshold: float | None = None,
    directed: bool = False,
) -> DataFrame:
    """Sampled hop-bounded BETWEENNESS centrality in fixed-point integer
    arithmetic: per node v, ``sum over sampled pairs (s < t) of
    (sigma(s→v) · sigma(v→t) · scale) div sigma(s→t)`` when
    d(s,v)+d(v,t)=d(s,t) — the Brandes pair dependency with the rational
    division floored PER TERM at ``scale`` precision, which makes the sum
    exact integers (order-independent, hash-stable against a SQL oracle;
    the floor-per-term deviation from true betweenness is < #pairs/scale,
    documented the same way harmonic's ×6 scaling is). Same machinery as
    :func:`stress_centrality_sampled`: one sigma-carrying BFS + a
    three-way join keyed by the midpoint — and the same directed form
    (round 6): a second sigma-BFS over REVERSED edges supplies the
    sigma(v→t) leg and pairs become ORDERED (s ≠ t, no halving), which
    clears the ADVICE-r4 fail-fast with the exact shape it prescribed."""
    e = edges if threshold is None else edges.filter(
        F.col("distance") <= F.lit(threshold)
    )
    e = e.select("src", "dst")
    rset = roots.select(F.col("id").alias("t")).distinct()
    if directed:
        # independent forward/reversed legs built concurrently (guide §2.6
        # via _two_legs) — identical rationale to stress_centrality_sampled
        rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        sig, sig_t = _two_legs(
            lambda: bfs_sigma(
                roots, e, max_depth, directed=True
            ).localCheckpoint(),
            lambda: bfs_sigma(
                roots, rev, max_depth, directed=True
            ).localCheckpoint(),
        )
        pairs = sig.join(rset, sig["id"] == rset["t"], "left_semi").select(
            F.col("root").alias("s"),
            F.col("id").alias("t"),
            F.col("d").alias("dst_d"),
            F.col("sigma").alias("sigma_st"),
        )
    else:
        sig = bfs_sigma(roots, e, max_depth, directed=False).localCheckpoint()
        sig_t = sig
        pairs = (
            sig.join(rset, sig["id"] == rset["t"], "left_semi")
            .filter(F.col("root") < F.col("id"))
            .select(
                F.col("root").alias("s"),
                F.col("id").alias("t"),
                F.col("d").alias("dst_d"),
                F.col("sigma").alias("sigma_st"),
            )
        )
    a = sig.select(
        F.col("root").alias("s"),
        F.col("id").alias("v"),
        F.col("d").alias("da"),
        F.col("sigma").alias("sa"),
    )
    b = sig_t.select(
        F.col("root").alias("t"),
        F.col("id").alias("v"),
        F.col("d").alias("db"),
        F.col("sigma").alias("sb"),
    )
    return (
        pairs.join(a, "s")
        .join(b, ["t", "v"])
        .filter(
            (F.col("da") + F.col("db") == F.col("dst_d"))
            & (F.col("v") != F.col("s"))
            & (F.col("v") != F.col("t"))
        )
        .groupBy(F.col("v").alias("id"))
        .agg(
            F.sum(
                F.expr(f"(sa * sb * {scale}L) div sigma_st")
            ).cast("long").alias("bc_scaled")
        )
    )


def _push_sum(
    e: DataFrame,
    base: DataFrame,
    x: DataFrame,
    iterations: int,
    *steps: tuple,
    od: DataFrame | None = None,
) -> list:
    """The one loop of the linear centralities: ``iterations`` rounds of
    integer push-sum over the edge frame ``e`` (src, dst), starting from
    the (id, score) frame ``x``.

    Each step ``(frm, to, contrib, update, col)`` is one message round.
    Every edge carries the integer ``contrib`` (an expression over the
    sender's score row, joined with ``od`` when given) from its ``frm``
    end to its ``to`` end; the contributions are summed per target
    (``groupBy`` + ``sum``, map-side combinable) into ``s``; the sums
    left-join onto ``base`` (id, ...), so a node nothing reached sees a
    null ``s``, and its new score ``col`` is the long ``update`` (an
    expression over ``base``'s columns and ``s``). A round's cost is one
    edges⋈scores join plus one groupBy shuffle, both keyed by node.
    Sums and ``div`` on longs are exact and order-free, so every
    operator built on this is bit-identical across engines and
    partitionings.

    Cut policy: at ``iterations <= ITER_LAZY`` the rounds compose into
    one lazy query; above it every round is cut by :func:`_ckpt`.
    Returns the last frame of each step (``x`` itself at 0 iterations)."""
    lazy = iterations <= ITER_LAZY
    outs = [x] * len(steps)
    for _ in range(iterations):
        for i, (frm, to, contrib, update, col) in enumerate(steps):
            sender = x if od is None else x.join(od, "id")
            s = (
                e.join(sender, e[frm] == F.col("id"))
                .select(F.col(to), contrib.alias("c"))
                .groupBy(to)
                .agg(F.sum("c").alias("s"))
            )
            x = base.join(s, base["id"] == s[to], "left_outer").select(
                "id", update.cast("long").alias(col)
            )
            if not lazy:
                x = _ckpt(x)
            outs[i] = x
    return outs


def _out_degrees(e: DataFrame) -> DataFrame:
    """(id, od): the out-degree of every node with an out-edge."""
    return e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("od"))


def _unit_l2(df: DataFrame, cols: list) -> DataFrame:
    """(id, *cols) with each long column of ``cols`` put on its unit L2
    sphere as doubles. The sum of squares is an exact decimal(38,0)
    aggregate (order-free); the only float operations are one
    correctly-rounded sqrt and one correctly-rounded division per value,
    so the result is bit-identical across engines. An all-zero column
    stays 0.0 rather than 0/0."""
    ss = df.agg(*[
        F.sum(F.col(c).cast("decimal(38,0)") * F.col(c).cast("decimal(38,0)"))
        .alias(f"__ss_{c}")
        for c in cols
    ])
    return df.crossJoin(F.broadcast(ss)).select(
        "id",
        *[
            F.when(
                F.col(f"__ss_{c}") > 0,
                F.col(c).cast("double") / F.sqrt(F.col(f"__ss_{c}").cast("double")),
            )
            .otherwise(F.lit(0.0))
            .alias(c)
            for c in cols
        ],
    )


def pagerank_scaled(
    edges: DataFrame,
    iterations: int = 2,
    scale: int = 1_000_000,
    d_num: int = 85,
    d_den: int = 100,
) -> DataFrame:
    """Fixed-iteration PageRank in INTEGER arithmetic on the push-sum
    kernel (:func:`_push_sum`): scores scaled to ``scale`` units, each
    node sends ``pr div od`` along its out-edges, and damping
    d = d_num/d_den applies as integer multiply-then-div,
    ``pr' = (1-d)·scale + (d_num · s) div d_den``. Every operation (sum,
    div) is exact and order-independent, so the result is bit-identical
    across engines and partitionings -- the property that makes an
    iterative analytics op oracle-checkable at all (float PageRank
    differs per reduction order). Returns (id, pr_scaled); nodes with no
    in-edges settle at the base (1-d) mass."""
    e = edges.select("src", "dst")
    nodes = _endpoint_ids(e).localCheckpoint()
    base = (scale * (d_den - d_num)) // d_den
    (pr,) = _push_sum(
        e,
        nodes,
        nodes.withColumn("pr_scaled", F.lit(scale).cast("long")),
        iterations,
        (
            "src",
            "dst",
            F.expr("pr_scaled div od"),
            F.lit(base) + F.expr(f"({d_num} * coalesce(s, 0L)) div {d_den}"),
            "pr_scaled",
        ),
        od=_out_degrees(e),
    )
    return pr


def personalized_pagerank_scaled(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 2,
    scale: int = 1_000_000,
    d_num: int = 85,
    d_den: int = 100,
) -> DataFrame:
    """Personalized PageRank (the GDS PPR surface) on the push-sum
    kernel: identical integer arithmetic to :func:`pagerank_scaled`, but
    the restart mass lands ONLY on the seed set — init score = ``scale``
    on seeds / 0 elsewhere, and the per-iteration base term is
    (1-d)*scale for seeds, 0 for the rest. The seed flag rides on the
    kernel's base frame, so personalization adds no extra shuffle per
    round."""
    e = edges.select("src", "dst")
    seed_flag = (
        _endpoint_ids(e)
        .join(
            seeds.select(F.col("id")).distinct().withColumn("__s", F.lit(1)),
            "id",
            "left_outer",
        )
        .select("id", F.coalesce(F.col("__s"), F.lit(0)).alias("is_seed"))
        .localCheckpoint()
    )
    base = (scale * (d_den - d_num)) // d_den
    (pr,) = _push_sum(
        e,
        seed_flag,
        seed_flag.select(
            "id", (F.col("is_seed") * F.lit(scale)).cast("long").alias("pr_scaled")
        ),
        iterations,
        (
            "src",
            "dst",
            F.expr("pr_scaled div od"),
            F.col("is_seed") * F.lit(base)
            + F.expr(f"({d_num} * coalesce(s, 0L)) div {d_den}"),
            "pr_scaled",
        ),
        od=_out_degrees(e),
    )
    return pr


def katz_centrality_scaled(
    edges: DataFrame,
    iterations: int = 2,
    scale: int = 1_000_000,
    alpha_num: int = 1,
    alpha_den: int = 8,
) -> DataFrame:
    """Fixed-iteration Katz centrality in INTEGER arithmetic on the
    push-sum kernel (W6 — the GDS alpha-centrality family, the directed
    complement of pagerank_scaled): ``x_{t+1}(i) = scale + (alpha_num *
    sum_{j->i} x_t(j)) div alpha_den`` with ``x_0 = scale``. Unlike
    PageRank the in-neighbor contribution is NOT out-degree-normalized —
    Katz rewards raw in-neighbourhood mass (attenuated walks of every
    length). Integer multiply-then-div makes the fixed-iteration result
    exact and order-independent, hence bit-identical against an unrolled
    SQL oracle. Returns (id, katz_scaled); sources with no in-edges hold
    ``scale``."""
    e = edges.select("src", "dst")
    nodes = _endpoint_ids(e).localCheckpoint()
    (x,) = _push_sum(
        e,
        nodes,
        nodes.withColumn("katz_scaled", F.lit(scale).cast("long")),
        iterations,
        (
            "src",
            "dst",
            F.col("katz_scaled"),
            F.lit(scale)
            + F.expr(f"({alpha_num} * coalesce(s, 0L)) div {alpha_den}"),
            "katz_scaled",
        ),
    )
    return x


def louvain_refine(
    edges: DataFrame,
    rounds: int = 2,
    levels: int = 1,
    early_exit: bool = True,
) -> DataFrame:
    """Deterministic SYNCHRONOUS Louvain-style modularity refinement
    (round 7 — the ``gds.louvain.stream`` surface): every node starts in
    its own community; each round EVERY node simultaneously moves to the
    neighboring community with the highest modularity gain (ties to the
    smallest community id; staying is a candidate with gain computed the
    same way), based on the PREVIOUS round's assignment.

    ``levels > 1`` adds Louvain's COARSENING phases: after each level's
    ``rounds`` of refinement the graph condenses (supernode = community;
    inter-community edge weights aggregate, intra-community weight and
    member self-loops become the supernode's self-loop — total weight m
    is invariant) and the WEIGHTED refinement repeats on the condensed
    graph (``_louvain_weighted_rounds``: strength k_v = Σ incident w +
    2·self_w, gain 2m·w_{v,c} − k_v·(Σ_c − [own]·k_v), still exact
    integers). The returned label is the TOP-level community mapped back
    through every condensation. Level-1 on the simple graph is the
    weighted core at w = 1 by construction (no separate code path to
    drift).

    Modularity gain of v joining c, with v first removed from its own
    community, is proportional to ``e_{v,c} − d_v·(Σ_c − [c = c_v]·d_v)
    / (2m)``; the engine compares the exact-integer scaling
    ``gain = 2m·e_{v,c} − d_v·(Σ_c − [c = c_v]·d_v)`` — no floats, so a
    fixed round budget is bit-reproducible cross-engine (the unrolled
    SQL oracle form). Overflow bound: d_max·2m < 2⁶³, same documented
    class as community_quality's m < 2³⁰.

    Documented divergence from stock GDS Louvain: stock is MULTI-LEVEL
    (greedy local moves + graph coarsening, asynchronous node order —
    irreproducible under task placement); the engine runs the bounded
    synchronous single-level refinement, the order-free distributed form
    (synchronous gain evaluation is also how distributed Louvain papers
    parallelize the move phase). Synchronous moves can oscillate on
    symmetric graphs, which a bounded ``rounds`` budget makes harmless
    and reproducible.

    ``early_exit`` (round 8 — VERDICT r7 ask #5): stop EXACTLY at the
    fixpoint instead of burning the rest of the budget — per ROUND, a
    1-row changed-label SUM (the core_decomposition convergence trick)
    breaks when no node moved (synchronous moves are a deterministic
    function of the assignment, so the next round would recompute
    identical state — exiting is value-IDENTICAL to the full budget,
    pinned by the differential test); per LEVEL, coarsening stops when
    refinement merged nothing (every node kept its own label → the
    condensed graph IS the current graph and all further levels are
    no-ops). Cost: one 1-row aggregate per round/level; saving: whole
    rounds of |E|-row joins after convergence. Stock's ``tolerance``
    (min modularity delta) is NOT emulated — it changes results; this
    exit fires only at the exact fixpoint.

    Scale shape per round: one |E|-row join (neighbor labels) + two
    key-partitioned aggregates (per-community volume — |C| rows, and
    per-(node, neighbor-community) edge counts — ≤ |E| rows, map-side
    combinable) + one per-node argmax window over the node's distinct
    neighbor communities (bounded by degree; hub windows are bounded by
    the node's DISTINCT neighbor communities, which shrink as
    communities merge). The only driver scalar is m. Returns
    (id, label); isolated nodes are absent (no edges → no gain rows)."""
    from pyspark.sql.window import Window

    canon = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .withColumn("w", F.lit(1).cast("long"))
        .transform(_ckpt)
    )
    m = canon.agg(F.sum("w")).collect()[0][0] or 0
    spark = edges.sparkSession
    we = canon  # canonical weighted inter-community edges (a < b, w)
    sw = spark.createDataFrame([], "id string, sw long")  # self weights
    mapping = None  # node -> current top-level community
    prev_lab = None  # the PREVIOUS level's lab, over we/sw's node universe
    for level in range(levels):
        if level > 0:
            # CONDENSE under the previous LEVEL's lab — NOT the composed
            # node->top mapping: a supernode's id is an elected label, and
            # the node bearing that id need not be a member of it, so the
            # composed mapping is the wrong function on supernode ids
            # (caught by the level-3 driver-sim differential). Supernodes =
            # communities; inter-community weights aggregate on the
            # canonicalized label pair, intra-community + member
            # self-weights become the supernode's self-loop weight (total
            # weight W = m invariant).
            la = prev_lab.select(
                F.col("id").alias("a"), F.col("label").alias("la")
            )
            lb = prev_lab.select(
                F.col("id").alias("b"), F.col("label").alias("lb")
            )
            j = we.join(la, "a").join(lb, "b")
            intra = (
                j.filter(F.col("la") == F.col("lb"))
                .groupBy(F.col("la").alias("id"))
                .agg(F.sum("w").cast("long").alias("sw"))
            )
            carried = (
                sw.join(prev_lab, "id")
                .groupBy(F.col("label").alias("id"))
                .agg(F.sum("sw").cast("long").alias("sw"))
            )
            sw = (
                intra.unionByName(carried)
                .groupBy("id")
                .agg(F.sum("sw").cast("long").alias("sw"))
                .transform(_ckpt)
            )
            we = (
                j.filter(F.col("la") != F.col("lb"))
                .select(
                    F.least("la", "lb").alias("a"),
                    F.greatest("la", "lb").alias("b"),
                    "w",
                )
                .groupBy("a", "b")
                .agg(F.sum("w").cast("long").alias("w"))
                .transform(_ckpt)
            )
        lab = _louvain_weighted_rounds(we, sw, m, rounds, early_exit)
        mapping = (
            lab
            if mapping is None
            else mapping.join(
                lab.select(
                    F.col("id").alias("label"), F.col("label").alias("l2")
                ),
                "label",
            )
            .select("id", F.col("l2").alias("label"))
            .transform(_ckpt)
        )
        prev_lab = lab
        if (
            early_exit
            and level < levels - 1
            and lab.filter(F.col("id") != F.col("label")).isEmpty()
        ):
            # no merges at this level: condensing yields the same graph,
            # every further level is a no-op
            break
    return mapping


def _louvain_weighted_rounds(
    we: DataFrame,
    sw: DataFrame,
    m: int,
    rounds: int,
    early_exit: bool = True,
) -> DataFrame:
    """The synchronous weighted refinement under louvain_refine: ``we`` is
    the canonical (a < b, w) inter-node weighted edge set, ``sw`` per-node
    self-loop weights (a condensed community's internal edges). Strength
    k_v = Σ incident w + 2·sw_v; total weight is the ORIGINAL m (condensing
    preserves it). Self-loops are excluded from w_{v,c} (they move with v,
    adding the same constant to every candidate — argmax- and
    tie-invariant) but counted in k_v and Σ_c. Gain compared exactly as
    2m·w_{v,c} − k_v·(Σ_c − [c = c_v]·k_v). Returns (id, label)."""
    from pyspark.sql.window import Window

    wund = (
        we.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
        .unionByName(
            we.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w")
        )
        .transform(_ckpt)
    )
    wsum = wund.groupBy(F.col("src").alias("id")).agg(
        F.sum("w").cast("long").alias("ws")
    )
    nodes = (
        wsum.select("id").unionByName(sw.select("id")).distinct()
    )
    k = (
        nodes.join(wsum, "id", "left_outer")
        .join(sw, "id", "left_outer")
        .select(
            "id",
            (
                F.coalesce(F.col("ws"), F.lit(0))
                + F.lit(2) * F.coalesce(F.col("sw"), F.lit(0))
            ).cast("long").alias("d"),
        )
        .transform(_ckpt)
    )
    lab = k.select("id", F.col("id").alias("label")).transform(_ckpt)
    win = Window.partitionBy("id").orderBy(
        F.col("gain").desc(), F.col("c").asc()
    )
    for rnd in range(rounds):
        vol = (
            lab.join(k, "id")
            .groupBy(F.col("label").alias("c"))
            .agg(F.sum("d").cast("long").alias("vol"))
        )
        evc = (
            wund.join(
                lab.select(
                    F.col("id").alias("dst"), F.col("label").alias("c")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("id"), "c")
            .agg(F.sum("w").cast("long").alias("e"))
        )
        cand = (
            evc.unionByName(
                lab.select(
                    "id",
                    F.col("label").alias("c"),
                    F.lit(0).cast("long").alias("e"),
                )
            )
            .groupBy("id", "c")
            .agg(F.sum("e").cast("long").alias("e"))
        )
        scored = (
            cand.join(k, "id")
            .join(lab, "id")
            .join(vol, "c")
            .select(
                "id",
                "c",
                (
                    F.lit(2 * m).cast("long") * F.col("e")
                    - F.col("d")
                    * (
                        F.col("vol")
                        - F.when(
                            F.col("c") == F.col("label"), F.col("d")
                        ).otherwise(F.lit(0).cast("long"))
                    )
                ).alias("gain"),
            )
        )
        new_lab = (
            scored.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .select("id", F.col("c").alias("label"))
            .transform(_ckpt)
        )
        if early_exit and rnd < rounds - 1:
            # 1-row convergence SUM (the coredec trick): 0 moves means
            # the next round recomputes identical state — exit is
            # value-identical to the full budget
            moved = (
                new_lab.join(
                    lab.withColumnRenamed("label", "__old"), "id"
                )
                .agg(
                    F.sum(
                        (F.col("label") != F.col("__old")).cast("long")
                    ).alias("n")
                )
                .first()[0]
            )
            lab = new_lab
            if not moved:
                break
        else:
            lab = new_lab
    return lab


def community_quality(edges: DataFrame, assignment: DataFrame) -> DataFrame:
    """Per-community quality metrics over a node→community assignment
    (round 6 — the measurement half of the community-detection family,
    the stock ``gds.modularity.stream`` / ``gds.conductance.stream``
    surface):

    - modularity  Q_c = e_c/m − (d_c/(2m))², computed as ONE double
      division of exact longs: (4·m·e_c − d_c²) / (4·m²) — so the value
      is correctly rounded identically cross-engine — for
      m < 2³⁰ canonical edges (the bound where 4·m² stays inside a
      signed 64-bit long; ADVICE r6); past it the quotient form
      e_c/m − (d_c/(2m))² in doubles, relative rounding ~1e-16;
    - conductance φ_c = cut_c / min(vol_c, vol_assigned − vol_c), where
      vol_assigned = 2·m_assigned sums degrees over the SAME
      both-endpoints-assigned edge set as vol_c and cut_c (ADVICE r7:
      the full-graph 2m inflated the complement volume with
      unassigned-node edges on partial assignments; on full assignments
      m_assigned = m and nothing changes); 0.0 when the denominator is
      0 — the whole-graph-one-community case.

    Input is canonicalized to the simple undirected graph (the same
    convention as triangle_counts / core_decomposition); ``assignment``
    is (id, label). ALL THREE aggregates are computed over the edges
    whose BOTH endpoints are assigned (ADVICE r6: degrees were
    previously taken before the label join, so a partial assignment —
    user-supplied communityProperty with missing labels — mixed
    incompatible aggregates); the invariant degree_sum = 2·intra_c +
    cut_c therefore holds BY CONSTRUCTION, partial or not; MODULARITY's
    m still counts the full canonical edge set (the normalization its
    definition needs), while CONDUCTANCE's total is the assigned
    volume. Unassigned nodes and their incident edges drop
    out; isolated nodes carry no edges and are absent. Returns
    (community, intra_edges, cut_edges, degree_sum, modularity,
    conductance).

    Scale shape: one |E|-row double join (labels onto both endpoints),
    then community-cardinality aggregates — all key-partitioned,
    map-side combinable; degree_sum is derived (no separate node-degree
    aggregate, one fewer shuffle than the round-6 form); the only
    driver-side scalars are m (one count job on the canonical set) and
    m_assigned (one count on the checkpointed joined set)."""
    canon = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    m = canon.count()
    lab = assignment.select("id", "label")
    je = (
        canon.join(
            lab.select(F.col("id").alias("a"), F.col("label").alias("la")),
            "a",
        )
        .join(
            lab.select(F.col("id").alias("b"), F.col("label").alias("lb")),
            "b",
        )
        .select("la", "lb")
        .localCheckpoint()
    )
    intra = (
        je.filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    cut = (
        je.filter(F.col("la") != F.col("lb"))
        .select(F.explode(F.array("la", "lb")).alias("community"))
        .groupBy("community")
        .agg(F.count(F.lit(1)).cast("long").alias("cut_edges"))
    )
    # conductance total: the ASSIGNED volume 2·m_assigned (= Σ_c d_c =
    # 2·|je|, one count on the checkpointed both-endpoints-assigned edge
    # set), NOT 2·m — on partial assignments the full-graph m inflates
    # the complement volume with unassigned-node edges, diverging from
    # stock GDS conductance which drops unassigned nodes from the total
    # too (ADVICE r7). On full assignments m_assigned == m. Modularity
    # keeps the full-graph m: its definition normalizes by ALL edges.
    m_assigned = je.count()
    if m < (1 << 30):
        # exact-long single division: 4m·e_c − d_c² with e_c <= m and
        # d_c <= 2m is bounded by 4m² < 2^62
        modularity = (
            F.lit(4 * m).cast("long") * F.col("intra_edges")
            - F.col("degree_sum") * F.col("degree_sum")
        ).cast("double") / F.lit(float(4 * m * m))
    else:
        modularity = (
            F.col("intra_edges").cast("double") / F.lit(float(m))
            - F.pow(
                F.col("degree_sum").cast("double") / F.lit(float(2 * m)),
                F.lit(2.0),
            )
        )
    cond_den = F.least(
        F.col("degree_sum"),
        F.lit(2 * m_assigned).cast("long") - F.col("degree_sum"),
    )
    return (
        intra.join(cut, "community", "full_outer")
        .select(
            "community",
            F.coalesce("intra_edges", F.lit(0)).cast("long").alias(
                "intra_edges"
            ),
            F.coalesce("cut_edges", F.lit(0)).cast("long").alias("cut_edges"),
        )
        .withColumn(
            "degree_sum",
            (
                F.lit(2).cast("long") * F.col("intra_edges")
                + F.col("cut_edges")
            ).cast("long"),
        )
        .select(
            "community",
            "intra_edges",
            "cut_edges",
            "degree_sum",
            modularity.alias("modularity"),
            F.when(
                cond_den > 0,
                F.col("cut_edges").cast("double") / cond_den.cast("double"),
            )
            .otherwise(0.0)
            .alias("conductance"),
        )
    )


def article_rank_scaled(
    edges: DataFrame,
    iterations: int = 2,
    scale: int = 1_000_000,
    d_num: int = 85,
    d_den: int = 100,
    avg_mode: str = "floor",
) -> DataFrame:
    """Fixed-iteration ArticleRank in INTEGER arithmetic on the push-sum
    kernel (:func:`_push_sum`; round 6 — one of the two procs that
    superseded gds.alpha.katz in stock GDS, the other being eigenvector):
    the PageRank recurrence with each node's out-contribution divided by
    ``od(u) + avg_od`` instead of ``od(u)``, which damps the endorsements
    of low-out-degree nodes toward the network average (the "citation
    from a short reference list counts less disproportionately" fix).

    ``avg_mode`` (round 7, VERDICT r6 ask #4 — narrowing the documented
    stock-GDS divergence):

    - ``'floor'`` (default, oracle-pinned since round 6):
      ``avg_od = |E| div |V|``, the integer floor of the mean
      out-degree.
    - ``'exact'``: the TRUE mean ``|E|/|V|`` incorporated as a rational
      — per-edge contribution ``ar·|V| div (od·|V| + |E|)``, which is
      exactly ``floor(ar / (od + |E|/|V|))``. This matches stock GDS's
      float mean out-degree to within the one documented truncating div
      (GDS floats the whole recurrence; the rational form is exact and
      reduction-order-free, so it stays oracle-checkable). Overflow
      bound: ``ar·|V|`` must stay under 2⁶³ — fine while
      max-score × |V| < 9.2e18 (e.g. scores ≤ 1e9 up to |V| = 9e9
      nodes), same class of documented bound as community_quality's m.

    Returns (id, ar_scaled)."""
    if avg_mode not in ("floor", "exact"):
        raise ValueError("avg_mode must be 'floor' or 'exact'")
    e = edges.select("src", "dst")
    nodes = _endpoint_ids(e).localCheckpoint()
    # |E| and |V| in one aggregate query over the tagged union of both
    tally = e.select(F.lit(True).alias("is_edge")).unionByName(
        nodes.select(F.lit(False).alias("is_edge"))
    )
    n_edges, n_nodes = tally.agg(
        F.count_if("is_edge"), F.count_if(~F.col("is_edge"))
    ).first()
    n_nodes = max(1, n_nodes)
    if avg_mode == "exact":
        contrib = f"(ar_scaled * {n_nodes}L) div (od * {n_nodes}L + {n_edges}L)"
    else:
        contrib = f"ar_scaled div (od + {n_edges // n_nodes}L)"
    base = (scale * (d_den - d_num)) // d_den
    (pr,) = _push_sum(
        e,
        nodes,
        nodes.withColumn("ar_scaled", F.lit(scale).cast("long")),
        iterations,
        (
            "src",
            "dst",
            F.expr(contrib),
            F.lit(base) + F.expr(f"({d_num} * coalesce(s, 0L)) div {d_den}"),
            "ar_scaled",
        ),
        od=_out_degrees(e),
    )
    return pr


def eigenvector_scaled(
    edges: DataFrame,
    iterations: int = 2,
    scale: int = 1_000_000,
    normalized: bool = False,
) -> DataFrame:
    """Fixed-iteration UNNORMALIZED eigenvector centrality in integers on
    the push-sum kernel (round 6 — the other gds.alpha.katz successor):
    ``x_0 = scale``, ``x_{t+1}(v) = sum over in-neighbors u of x_t(u)`` —
    after k rounds the score is scale × (number of length-k walks ending
    at v), the raw power-iteration numerator. Stock GDS L2-normalizes
    each iteration (floats whose value depends on reduction order); the
    engine keeps the integer power step, the oracle-checkable form — the
    same deviation Katz documents, and rank order per iteration matches
    the normalized variant exactly (normalization is a positive
    per-round global constant). Returns (id, eig_scaled); nodes no
    length-k walk reaches settle at 0.

    ``normalized=True`` (round 7, VERDICT r6 ask #4 — stock-GDS VALUE
    parity): returns (id, eigenvector double) on the unit L2 sphere
    (:func:`_unit_l2`). Because per-round normalization only rescales by
    a positive global scalar, normalizing ONCE at the end is
    mathematically identical to GDS's per-round normalization (theirs
    exists for float-range stability, not semantics) — and it keeps the
    result oracle-checkable."""
    e = edges.select("src", "dst")
    nodes = _endpoint_ids(e).localCheckpoint()
    (x,) = _push_sum(
        e,
        nodes,
        nodes.withColumn("eig_scaled", F.lit(scale).cast("long")),
        iterations,
        ("src", "dst", F.col("eig_scaled"), F.coalesce("s", F.lit(0)), "eig_scaled"),
    )
    if not normalized:
        return x
    return _unit_l2(x, ["eig_scaled"]).withColumnRenamed("eig_scaled", "eigenvector")


def fastrp_embeddings(
    edges: DataFrame,
    dims: int = 8,
    iters: int = 2,
    weights: tuple = (1, 2),
    scale: int = 1000,
    directed: bool = False,
) -> DataFrame:
    """FastRP-shaped node embeddings (the GDS fastRP surface) in EXACT
    integer arithmetic: random-projection init is an md5-derived value per
    (node, dim) in [-scale, scale] (cross-engine-identical — the same
    trick as deterministic_walks), each iteration replaces a node's vector
    with the integer MEAN of its neighbors' (sum div degree), and the
    final embedding is the weighted sum of the iteration layers. Floats
    would break the oracle (reduction order); integers make a node
    embedding hash-checkable, while keeping FastRP's structure (very
    sparse projection + degree-normalized propagation + layer mixing).

    Distributed shape (round 5, the PACKED-vector iteration — VERDICT r4
    ask #5): ONE row per node carrying its whole vector as an
    ``array<long>[dims]`` column. Each iteration is one edges⋈vectors
    equi-join shuffling |edges| rows (each with one packed array — NOT
    |edges| × dims exploded rows, the old plan that materialized 312M
    rows/iteration at the 5M tier) followed by a single groupBy(src) with
    ``dims`` independent SUM aggregates over the array slots — all
    map-side combinable, so the shuffle after the join carries one
    partial vector per (task, node). Layer mixing is a per-row zip_with,
    no shuffle at all. Bit-identical to the exploded form
    (:func:`fastrp_embeddings_exploded`, kept as the differential twin):
    same md5 init, same per-slot integer sums, same truncating ``div``.
    Returns (id, emb array<long>[dims])."""
    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.localCheckpoint()
    nodes = e.select(F.col("src").alias("id")).distinct().localCheckpoint()
    deg = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))

    # Init goes explode -> collect_list, NOT a direct per-row
    # transform(sequence(...), md5(id...)): a top-level deterministic
    # id->emb projection leaves an alias CONSTRAINT that survives the
    # localCheckpoint (LogicalRDD keeps origin constraints), and
    # InferFiltersFromConstraints then substitutes id -> dst through the
    # first iteration's join condition, emitting a filter over the
    # checkpointed scan that references an attribute it does not have —
    # [INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND] at bind time (Spark 4.1.2,
    # reproduced; the `!Filter (transform(...) <=> emb)` shows in the
    # optimized plan). Constraints do not propagate through
    # Generate/Aggregate, so the explode+agg init is immune — and it is
    # the exploded twin's init verbatim, which keeps bit-exactness by
    # construction. One |V| x dims shuffle ONCE at init; iterations stay
    # packed.
    nd = nodes.select(
        "id", F.explode(F.sequence(F.lit(0), F.lit(dims - 1))).alias("dim")
    )
    hexint = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.col("id"), F.col("dim"))), 1, 6),
        16,
        10,
    ).cast("long")
    v = (
        nd.select(
            "id",
            "dim",
            (hexint % F.lit(2 * scale + 1) - F.lit(scale)).alias("val"),
        )
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "val"))),
                lambda x: x["val"],
            ).alias("emb")
        )
        .localCheckpoint()
    )
    # Round 9: for a small fixed iteration count the per-iteration
    # localCheckpoint is pure latency (a sequential job + py4j round-trip
    # per layer while each shuffle is a few MB) — compose the layers into
    # one lazy query instead (same rationale as BFS_LAZY_K; the layer
    # chain is LINEAR, and the one doubly-consumed subplan per layer —
    # next iteration + layer mixing — dedups at its aggregate exchange via
    # reuse). Deep runs keep the checkpointed loop: an O(iters)-deep plan
    # of array aggregates is fine at 4, not at 40.
    lazy = iters <= ITER_LAZY
    layers = []
    for _ in range(iters):
        s = (
            e.alias("E")
            .join(v.alias("V"), F.col("E.dst") == F.col("V.id"))
            .groupBy(F.col("E.src").alias("nid"))
            .agg(*[
                F.sum(F.col("V.emb")[i]).alias(f"s{i}") for i in range(dims)
            ])
        )
        v = (
            nodes.join(s, nodes["id"] == s["nid"], "left_outer")
            .join(deg, "id", "left_outer")
            .select(
                "id",
                # integer `div` truncates toward zero — DuckDB's integer //
                # does the SAME (verified: -7 // 2 = -3), so truncation is
                # the cross-engine contract even for negative sums
                F.array(*[
                    F.expr(f"coalesce(s{i}, 0L) div coalesce(deg, 1L)")
                    for i in range(dims)
                ]).alias("emb"),
            )
        )
        if not lazy:
            v = _ckpt(v)
        layers.append(v)
    out = None
    for w, lv in zip(weights, layers):
        part = lv.select(
            "id",
            F.transform(F.col("emb"), lambda x: F.lit(int(w)) * x).alias("p"),
        )
        if out is None:
            out = part.withColumnRenamed("p", "acc")
        else:
            out = out.join(part, "id").select(
                "id", F.zip_with("acc", "p", lambda a, b: a + b).alias("acc")
            )
    return out.select("id", F.col("acc").alias("emb"))


def fastrp_embeddings_exploded(
    edges: DataFrame,
    dims: int = 8,
    iters: int = 2,
    weights: tuple = (1, 2),
    scale: int = 1000,
    directed: bool = False,
) -> DataFrame:
    """The pre-round-5 (id, dim, val) EXPLODED FastRP iteration, kept as
    the bit-exact differential twin of :func:`fastrp_embeddings` (same
    init, same arithmetic, |edges| × dims rows per iteration — the shape
    the packed form replaces; tests/test_graph_operators.py pins equal
    output)."""
    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.localCheckpoint()
    nodes = e.select(F.col("src").alias("id")).distinct().localCheckpoint()
    deg = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    nd = nodes.select(
        "id", F.explode(F.sequence(F.lit(0), F.lit(dims - 1))).alias("dim")
    )
    hexint = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.col("id"), F.col("dim"))), 1, 6),
        16,
        10,
    ).cast("long")
    v = nd.select(
        "id", "dim", (hexint % F.lit(2 * scale + 1) - F.lit(scale)).alias("val")
    ).localCheckpoint()
    layers = []
    for _ in range(iters):
        s = (
            e.join(v, e["dst"] == v["id"])
            .groupBy(e["src"].alias("nid"), "dim")
            .agg(F.sum("val").alias("s"))
        )
        v = (
            nd.join(
                s, (nd["id"] == s["nid"]) & (nd["dim"] == s["dim"]), "left_outer"
            )
            .join(deg, "id", "left_outer")
            .select(
                nd["id"],
                nd["dim"],
                F.expr("coalesce(s, 0L) div coalesce(deg, 1L)").alias("val"),
            )
            .transform(_ckpt)
        )
        layers.append(v)
    mixed = None
    for w, lv in zip(weights, layers):
        part = lv.select("id", "dim", (F.lit(int(w)) * F.col("val")).alias("p"))
        mixed = part if mixed is None else mixed.unionByName(part)
    emb = (
        mixed.groupBy("id", "dim")
        .agg(F.sum("p").alias("val"))
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "val"))),
                lambda x: x["val"],
            ).alias("emb")
        )
    )
    return emb


def cloud_membership(
    edges: DataFrame,
    threshold: float,
    nodes: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Cloud-membership table: node id -> cloud (component) label over the
    thresholded graph, plus per-cloud size. The queryable form of the
    PhageClouds concept. ``checkpoint_dir`` switches the iteration to
    reliable on-disk checkpoints (connected_components) -- required once
    per-round lineage blocks no longer fit the executor heap (~100M nodes
    on a 48g local heap)."""
    comp = connected_components(
        edges.filter(F.col("distance") <= F.lit(threshold)),
        nodes,
        checkpoint_dir=checkpoint_dir,
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cloud_size"))
    return comp.join(sizes, "component").select("id", "component", "cloud_size")


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node has
    undirected degree >= k. Iterative peeling — drop under-degree nodes,
    recompute degrees on the induced subgraph, repeat. The standard
    graph-cleanup operator (trimming sparse fringe before clustering the
    dense "clouds").

    ``rounds=None`` runs to the fixpoint (a driver loop with per-round
    checkpointing, exactly like connected_components). A fixed ``rounds``
    runs that many peels and stops — the deterministic form the DuckDB
    oracle mirrors round-for-round; it equals the fixpoint whenever peeling
    converges within the budget. Returns (id, degree) of surviving nodes
    with their final in-core degree."""
    und = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if rounds is None:
        return _k_core_delta(und, k, reliable_checkpoint)
    live = und
    i = 0
    while True:
        deg = live.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("degree")
        )
        # anti-join against the REMOVED set, not semi-join against the
        # (near-full-graph-sized) keep set: after the first peel the removed
        # set is tiny and AQE turns both anti-joins into broadcasts, leaving
        # the degree aggregation as the only full shuffle per round
        removed = deg.filter(F.col("degree") < k).select("id")
        nxt = (
            live.join(removed, live["src"] == removed["id"], "left_anti")
            .join(removed, live["dst"] == removed["id"], "left_anti")
        )
        i += 1
        # checkpoint EVERY round: each peel references the previous round's
        # edges in three places (degree agg + two semi-joins), so an
        # unmaterialized lineage re-executes the whole prefix per round
        # (measured 41 s -> 6 s for 6 rounds at sf0.01)
        if rounds is not None:
            if i >= rounds:
                live = nxt
                break
            live = _ckpt(nxt, reliable_checkpoint)
            continue
    return (
        live.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .filter(F.col("degree") >= k)
    )


def _k_core_delta(und: DataFrame, k: int, reliable: bool) -> DataFrame:
    """Delta-peeling fixpoint: compute full undirected degrees ONCE, then
    per round only (a) find under-degree nodes, (b) count the live edges
    they touch to decrement their neighbors, (c) anti-join them out of the
    edge and degree tables. After the first peel the removed set is small,
    so every per-round join broadcasts and the only shuffle is the
    decrement aggregation — sized by the DELTA, not the graph. Honest
    local[32] measurement at 38M undirected edge rows: wall-clock PARITY
    with the naive re-aggregating peel (~200 s either way) because local
    mode is scan-bound — both forms scan the live edges per round, and
    local shuffles are memory-cheap. The delta form is kept because it
    eliminates the per-round full-graph shuffle, which is the bottleneck
    on a real cluster where shuffle means network; property-tested
    equivalent to the fixed-rounds peel (tests/test_graph_operators.py).
    Edge/degree lineage accumulates map-side anti-joins and is
    checkpointed every 4 rounds."""
    live = _ckpt(und, reliable)
    deg = _ckpt(
        live.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("degree")
        ),
        reliable,
    )
    i = 0
    while True:
        removed = deg.filter(F.col("degree") < k).select("id").transform(_ckpt)
        if removed.isEmpty():
            break
        i += 1
        # neighbors of removed lose one degree per incident live edge
        dec = (
            live.join(F.broadcast(removed), live["dst"] == removed["id"])
            .groupBy(F.col("src").alias("nid"))
            .agg(F.count(F.lit(1)).alias("dec"))
        )
        live = (
            live.join(F.broadcast(removed), live["src"] == removed["id"], "left_anti")
            .join(F.broadcast(removed), live["dst"] == removed["id"], "left_anti")
        )
        deg = (
            deg.join(F.broadcast(removed), deg["id"] == removed["id"], "left_anti")
            .join(dec, deg["id"] == dec["nid"], "left_outer")
            .select(
                "id",
                (F.col("degree") - F.coalesce(F.col("dec"), F.lit(0))).alias("degree"),
            )
        )
        if i % 4 == 0:
            live = _ckpt(live, reliable)
            deg = _ckpt(deg, reliable)
    return deg.filter(F.col("degree") >= k)


def _hindex_histogram(nv: DataFrame) -> DataFrame:
    """(id, nv) neighbor-value rows -> (id, core): per-node H-index — the
    largest k such that >= k values are >= k.

    HISTOGRAM form (round 7, VERDICT r6 ask #3): aggregate to
    (id, nv) -> cnt first, then rank/running-sum over the DISTINCT values
    per node: c(v) = #values >= v is the running sum of cnt in descending
    v order, and H = max over distinct v of min(v, c(v)). Exactness: for
    any distinct v, min(v, c(v)) is a feasible k (c is non-increasing);
    conversely the smallest distinct value v* >= H has c(v*) = c(H) >= H,
    so min(v*, c(v*)) >= H. This replaces the per-row
    ``row_number()`` rank over all neighbor values: a degree-10M hub
    previously landed its whole neighbor list in ONE window task, while
    here its window partition is at most |distinct neighbor core values|
    rows (<= max coreness, typically tiny) — the same skew class fixed
    for node similarity via the df-histogram gate. Value-identical to the
    rank form (differential-pinned in tests/test_graph_operators.py)."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("id")
        .orderBy(F.col("nv").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        nv.groupBy("id", "nv")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("c", F.sum("cnt").over(w))
        .select("id", F.least(F.col("nv"), F.col("c")).alias("hv"))
        .groupBy("id")
        .agg(F.max("hv").alias("core"))
    )


def _deg_histogram(deg: DataFrame) -> list:
    """(degree → node count) histogram rows of a degree frame whose LAST
    column is the degree — |distinct degrees| rows, one bounded job.
    Round 10: shared between the pack probe and the broadcast-state gate
    so core_decomposition pays ONE probe job instead of a histogram
    collect plus a separate count (|V| = sum of the histogram counts)."""
    dcol = deg.columns[-1]
    return (
        deg.groupBy(F.col(dcol).alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )


def _coredec_auto_pack(
    edges: DataFrame | None = None,
    depth_bound_cut: int = 32,
    min_nodes: int = 1_000_000,
    deg: DataFrame | None = None,
    hist: list | None = None,
) -> bool:
    """The ``pack_ids="auto"`` probe (round 8, VERDICT r7 ask #3 — the
    nodesimilarity ``freq_cap="auto"`` self-gating pattern applied to
    core_decomposition): ONE degree-histogram job decides whether
    dictionary encoding will pay before any fixpoint round runs.

    Predictor: the H-INDEX OF THE DEGREE SEQUENCE (largest k such that
    ≥ k nodes have degree ≥ k) is an upper bound on max coreness AND,
    because h₀ = degree, the exact value the iteration's max starts at —
    deep bound ⇒ many rounds ⇒ the one-time 2×|E| encode join amortizes
    (the measured r7 split: 2M-skew bound≈core 153 → packed pays 1.34×;
    20M-uniform bound 3 → packed loses 1.36×). Decision: pack iff
    bound ≥ ``depth_bound_cut`` AND |V| ≥ ``min_nodes`` (below ~1M nodes
    the A/B never moved — encode overhead and savings are both noise,
    so small graphs keep the plain plan and the oracle entries keep
    their unpacked shape).

    Cost: one |E|-row degree aggregate + a driver collect of the
    (degree → count) histogram — |distinct degrees| rows, the same
    bounded-scalar class as the nodesim df-histogram; |V| falls out of
    the histogram sum for free. When ``deg`` is given (a (id, degree)
    frame whose LAST column is the degree — core_decomposition passes
    its own just-checkpointed h₀, which IS the degree sequence), the
    probe is one tiny aggregate over it instead of re-deriving the
    canonicalized graph: the round-8 bench caught the standalone probe
    re-paying the |E|-distinct the algorithm does anyway (sf0.1 entry
    min 6.85 s → 8.39 s), so the shared-frame path is the default call
    site."""
    if hist is None:
        if deg is None:
            und_deg = (
                edges.select(
                    F.least("src", "dst").alias("a"),
                    F.greatest("src", "dst").alias("b"),
                )
                .filter(F.col("a") != F.col("b"))
                .distinct()
            )
            deg = (
                und_deg.select(F.col("a").alias("id"))
                .unionByName(und_deg.select(F.col("b").alias("id")))
                .groupBy("id")
                .agg(F.count(F.lit(1)).alias("d"))
            )
        hist = _deg_histogram(deg)
    n_nodes = sum(r.n for r in hist)
    if n_nodes < min_nodes:
        return False
    # h = max over histogram steps of min(degree, #nodes with >= that
    # degree) — the max handles h falling BETWEEN distinct degrees
    # (degrees [5,5,5,2,1]: the d=5 step gives min(5,3)=3, the true h,
    # while the first running>=d step d=2 would report 2)
    running, h = 0, 0
    for r in sorted(hist, key=lambda r: -r.d):
        running += r.n
        h = max(h, min(int(r.d), running))
    return h >= depth_bound_cut


def core_decomposition(
    edges: DataFrame,
    rounds: int | None = None,
    reliable_checkpoint: bool = False,
    delta: bool = False,
    pack_ids: bool | str = "auto",
) -> DataFrame:
    """FULL k-core decomposition — every node's core number (the largest
    k such that the node survives k-core peeling), the stock
    ``gds.kcore.stream`` semantics (round 6, closing the COVERAGE
    divergence where the proc only answered the given-k question).

    Algorithm: H-INDEX ITERATION (Lü, Zhou, Zhang & Stanley 2016, "The
    H-index of a network node and its relation to degree and coreness"):
    h₀(v) = degree(v); h_{t+1}(v) = H-index of the multiset
    {h_t(u) : u ∼ v} (the largest k such that ≥ k neighbors have value
    ≥ k). The sequence is monotone non-increasing per node and its
    fixpoint is exactly coreness — but unlike sequential bucket peeling
    it is a LOCAL, synchronous update, which is the distributed-friendly
    form: each round is one |E|-row join (neighbor values) + one
    per-node H-index (the HISTOGRAM form, ``_hindex_histogram`` — a
    map-side-combinable (id, value) count, then a running sum over the
    per-node DISTINCT values only, so hub window partitions are bounded
    by max coreness, not degree) + one node-cardinality aggregate. No
    global priority queue, no per-k sequential dependency; rounds needed
    in practice ≈ the graph's "coreness smoothness", measured small
    (single digits on every rehearsed tier).

    Every intermediate value is an exact integer and the update is
    order-independent, so a fixed ``rounds`` budget is round-for-round
    reproducible in SQL (the oracle form); ``rounds=None`` iterates to
    the fixpoint.

    ``delta=True`` switches to the DIRTY-SET iteration (value-identical
    by construction): h_{t+1}(v) is a pure function of v's NEIGHBOR
    values, so a node none of whose neighbors changed last round would
    recompute to its current value — skip it. Each round then
    recomputes only the neighbors of last round's changed nodes, which
    cuts total node-recomputations ~3× on the sf0.1 phage graph (117k
    delta vs 378k full over 18 rounds) and — the cluster argument —
    shrinks the per-round SHUFFLE VOLUME from |E| rows to the dirty
    frontier's incident edges, the quantity that is network on a real
    cluster. Measured HONESTLY on local[32] it does not pay: 640k tier
    77.3 s delta vs 84.3 s full, but 5M tier 283.3 s vs 247.1 s and
    sf0.1 ~20 s vs ~17 s — local shuffles are memory-cheap and the
    delta's extra per-round jobs (semi-join, changed-diff, update join,
    frontier distinct) cost more than the saved scan, the same
    local-vs-cluster split _k_core_delta documents. Default is the
    full synchronous form (faster here); delta is the knob a
    network-bound cluster flips. Both forms are round-for-round
    identical (differential-pinned by tests/test_graph_operators.py::
    test_core_decomposition_delta_matches_full).

    Input is canonicalized to the SIMPLE undirected graph (self-loops
    dropped, parallel edges collapsed — coreness is a neighbor-set
    notion, same convention as triangle_counts). Returns (id, core);
    isolated nodes are absent (no edges → no rows, like k_core).

    ``pack_ids=True`` (round 7, the 20M-rung NVMe lever): dictionary-
    encode the string ids to dense longs ONCE (two-phase prefix rank —
    no global window task), run every per-round |E|-row join and
    aggregate on 8-byte keys, join the labels back at the end.
    MEASURED split (SCALE.md round-7): the one-time 2×|E| encode join
    amortizes over ROUNDS, so it pays exactly on deep-core graphs —
    2M-skew (max core 153, many rounds): 1442 s → 1073 s (1.34×); and
    LOSES on shallow ones — 20M uniform (max core 3, ~6 rounds):
    901 s → 1227 s. Default ``"auto"`` (round 8 — VERDICT r7 ask #3):
    the one-job degree-histogram probe (:func:`_coredec_auto_pack`)
    packs exactly when the degree-sequence h-index (an upper bound on
    max coreness, and h₀'s own max) predicts a deep fixpoint on a
    ≥1M-node graph — the measured split, self-gated. Explicit
    True/False skips the probe. All three forms are value-identical
    (differential-pinned)."""
    # identity checks: `1 in (True, False)` is True in Python (int/bool
    # equality), which is exactly the truthy-non-True hole being closed
    if not (pack_ids is True or pack_ids is False or pack_ids == "auto"):
        # ADVICE r8: a truthy non-True value (pack_ids=1) used to take
        # the packed path, then silently ran unpacked after the "auto"
        # change — fail loudly instead of guessing.
        raise ValueError(
            f"pack_ids must be True, False or 'auto'; got {pack_ids!r}"
        )
    auto = pack_ids == "auto"
    if pack_ids is True:
        return _coredec_packed(edges, rounds, reliable_checkpoint, delta)
    canon = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # und honors reliable_checkpoint too (round 8, found by the 40M/156M
    # rung): at 2x|E| rows the bidirectional edge frame is the LARGEST
    # block in the store, and keeping it executor-local blew the 48g heap
    # mid-iteration (read-ahead OOM) — the same lesson the 100M-components
    # rung taught for wcc state.
    und = _ckpt(
        canon.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(
            canon.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        ),
        reliable_checkpoint,
    )
    # Every round's H-index aggregation groups by src. Hash-partitioning und
    # by src inside each round's query (one exchange, reused by every round
    # a batch composes) leaves the rounds themselves exchange-free: the
    # broadcast state join keeps und's partitioning (sf0.1: 8.6 s with the
    # aggregate and window exchanges of every round, 4.7 s without).
    und_src = und.repartition("src")
    # h₀ stays LAZY (round 10): each consumer (the probe job, the first
    # round's broadcast build, the fixpoint SUM) recomputes the degree
    # aggregate from the materialized und — cheaper than the dedicated
    # checkpoint job + py4j round-trip the eager form paid.
    h = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("core")
    )
    # "auto" probes from h₀ (= the degree sequence) — a |V|-row
    # aggregate, not a second canonicalization. On the rare pack
    # decision the packed path re-canonicalizes from the raw edges
    # (one extra |E| distinct, noise against the deep fixpoint that
    # triggered packing); on the common keep-unpacked decision the probe
    # adds ~nothing to the plan the rounds run anyway.
    if auto:
        # round 10: ONE histogram job serves both the pack probe and the
        # broadcast-state gate (|V| = sum of the histogram's counts) —
        # h.count() was a second sequential job + py4j round-trip for a
        # number the probe already had
        hist = _deg_histogram(h)
        if _coredec_auto_pack(deg=h, hist=hist):
            return _coredec_packed(edges, rounds, reliable_checkpoint, delta)
        nv = sum(r.n for r in hist)
    else:
        nv = h.count()
    # Join-strategy gate (guide §3.1, decided ONCE from a real count, not an
    # estimate): broadcast the |V|-row state per round when it fits, which
    # removes the per-round shuffle of the |E|-row und side; past the cap,
    # fall back to the shuffle join.
    bcast_state = nv <= LOOP_BCAST_ROWS

    def _hj(cur: DataFrame) -> DataFrame:
        j = cur.select(F.col("id").alias("dst"), F.col("core").alias("nv"))
        return F.broadcast(j) if bcast_state else j


    if not delta:
        prev_sum = None
        if rounds is None:
            prev_sum = h.agg(F.sum("core")).collect()[0][0]
        # Round 9: in fixed-rounds mode, compose COREDEC_ROUND_BATCH
        # h-index iterations (4 — measured best of {1,2,4} at
        # sf0.1: mins 2.36/3.36 → 2.25/2.50, value-identical) into each
        # checkpointed query — the rounds are stages chained by
        # broadcast builds, so batching cuts the per-round driver
        # latency (ckpt job + py4j round-trip + AQE re-plan) to one per
        # batch. Checkpoint discipline is retained at batch boundaries
        # (executor loss recomputes at most one batch). Fixpoint mode
        # stays per-round (the 1-row SUM probe needs each iterate).
        step = COREDEC_ROUND_BATCH if rounds is not None else 1
        i = 0
        while True:
            todo = min(step, rounds - i) if rounds is not None else 1
            cur_h = h
            for _ in range(todo):
                nv = und_src.join(_hj(cur_h), "dst").select(
                    F.col("src").alias("id"), "nv"
                )
                cur_h = _hindex_histogram(nv)
            h = _ckpt(cur_h, reliable_checkpoint)
            i += todo
            if rounds is not None:
                if i >= rounds:
                    break
                continue
            # monotonicity trick: sum(h) strictly decreases until the
            # fixpoint, so one 1-row SUM per round is the convergence test
            cur = h.agg(F.sum("core")).collect()[0][0]
            if cur == prev_sum:
                break
            prev_sum = cur
        return h
    dirty = h.select("id")  # round 1 recomputes everyone (= the full form)
    i = 0
    while True:
        dj = dirty.withColumnRenamed("id", "src")
        nv = (
            und.join(
                F.broadcast(dj) if bcast_state else dj, "src", "left_semi"
            )
            .join(_hj(h), "dst")
            .select(F.col("src").alias("id"), "nv")
        )
        newh = _hindex_histogram(nv).withColumnRenamed("core", "core2")
        changed = (
            newh.join(h, "id")
            .filter(F.col("core2") != F.col("core"))
            .select("id", F.col("core2").alias("core"))
            .transform(_ckpt)
        )
        i += 1
        n_changed = changed.count()
        if n_changed > 0:
            h = _ckpt(
                h.join(changed.withColumnRenamed("core", "core2"), "id", "left_outer")
                .select(
                    "id",
                    F.coalesce(F.col("core2"), F.col("core")).alias("core"),
                ),
                reliable_checkpoint,
            )
        if rounds is not None and i >= rounds:
            break
        if n_changed == 0:
            break
        # round 10 (VERDICT r9 ask #8): dirty stays LAZY — it has exactly
        # one consumer (next round's semi-join seed), so its dedicated
        # checkpoint job + py4j round-trip bought nothing; the derivation
        # (one semi-join + distinct over the already-checkpointed
        # `changed`) now plans inside the next round's query. Per delta
        # round: 4 sequential jobs → 3.
        dirty = (
            und.join(
                changed.select(F.col("id").alias("dst")), "dst", "left_semi"
            )
            .select(F.col("src").alias("id"))
            .distinct()
        )
    return h


def _coredec_packed(
    edges: DataFrame,
    rounds: int | None,
    reliable_checkpoint: bool,
    delta: bool,
) -> DataFrame:
    """core_decomposition(pack_ids=True): dense-long dictionary encoding
    around the same loop. The dense rank is the TWO-PHASE prefix count
    (hash buckets + broadcast offsets — no global window task, the
    knn_scalar_topk / pack_sequences pattern); any bijection works, so
    the hash-bucketed order needs no semantic meaning."""
    from pyspark.sql.window import Window

    e = edges.select("src", "dst")
    nodes = _endpoint_ids(e)
    b = nodes.withColumn(
        "bucket", F.pmod(F.xxhash64("id"), F.lit(1024))
    )
    wloc = Window.partitionBy("bucket").orderBy("id")
    local = b.withColumn("lpos", F.row_number().over(wloc).cast("long"))
    woff = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bn"))
        .withColumn("boff", F.coalesce(F.sum("bn").over(woff), F.lit(0)))
        .select("bucket", "boff")
    )
    dct = (
        local.join(F.broadcast(offsets), "bucket")
        .select("id", (F.col("lpos") + F.col("boff")).alias("nid"))
        .localCheckpoint()
    )
    pe = (
        e.join(
            dct.select(F.col("id").alias("src"), F.col("nid").alias("nsrc")),
            "src",
        )
        .join(
            dct.select(F.col("id").alias("dst"), F.col("nid").alias("ndst")),
            "dst",
        )
        .select(F.col("nsrc").alias("src"), F.col("ndst").alias("dst"))
    )
    # pack_ids=False EXPLICITLY (round 10): the default "auto" would
    # re-probe the packed graph — packing preserves degrees and |V|, so
    # on every graph deep enough to trigger packing the probe fires
    # again and the call recurses (and re-encodes) forever. The inner
    # loop inherits the round-9 broadcast-state + round-batching path
    # unchanged; only the redundant probe/recursion is cut.
    packed = core_decomposition(
        pe, rounds=rounds, reliable_checkpoint=reliable_checkpoint,
        delta=delta, pack_ids=False,
    )
    back = dct.select(
        F.col("nid").alias("id"), F.col("id").alias("__orig")
    )
    return packed.join(back, "id").select(
        F.col("__orig").alias("id"), "core"
    )


def _orient_edges(live: DataFrame) -> DataFrame:
    """Orient a canonical (a < b) edge set up the (degree, id) total order
    -> (u, v, dv). The orientation caps per-node wedge fan-out by
    out-degree under the order — the arboricity bound, O(m^1.5) work
    overall instead of the max-degree² blow-up on hubs (same scheme as the
    triangle-count suite entry, plans/suite_pipeline.py
    graph_triangle_counts). Computed ONCE per k_truss call: any fixed
    total order enumerates each triangle exactly once, so peeling rounds
    reuse the original orientation instead of re-aggregating degrees —
    stale degrees only loosen the fan-out bound, never correctness (and
    peeling only shrinks degrees, so the original order stays close)."""
    deg = (
        live.select(F.col("a").alias("n"))
        .unionByName(live.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    lead_a = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return (
        live.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.when(lead_a, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lead_a, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lead_a, F.col("db")).otherwise(F.col("da")).alias("dv"),
        )
    )


# Edge-hash broadcast ceiling for the k-truss closing-join prefilter:
# 64-bit hashes serialize ~8 B/edge but build into a driver-side hash
# relation at ~32 B/edge, so 48M edges ≈ 1.5 GB in-memory — comfortably
# inside a production driver/executor, safely under Spark's 8 GB broadcast
# hard limit, and above every rehearsed tier (31.5M-edge skew graph).
# Beyond it the prefilter would OOM the driver (round-3 VERDICT "What's
# wrong" #1), so _triangle_support falls back to a SHUFFLE-HASH exact
# semi-join — shuffled, never sorted (the sort is what killed the 2M-skew
# rehearsal, not the shuffle).
KTRUSS_HASH_BROADCAST_CAP_EDGES = 48_000_000


def _enumerate_triangles(
    oriented: DataFrame,
    edge_count: int | None = None,
    hash_broadcast_cap_edges: int = KTRUSS_HASH_BROADCAST_CAP_EDGES,
) -> DataFrame:
    """Enumerate each triangle of a degree-oriented (u, v, dv) edge set
    exactly once as (x, y, z) corner rows — the shared core of
    _triangle_support (per-edge support), triangle_counts (per-node
    counts) and local_clustering_coefficient. The closing semi-join is
    SORT-FREE and gated exactly as documented in _triangle_support:
    broadcast-hash prefilter + exact verify at or under
    ``hash_broadcast_cap_edges``, shuffle-hash exact semi-join above."""
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    wedge_lt = (F.col("e1.dv") < F.col("e2.dv")) | (
        (F.col("e1.dv") == F.col("e2.dv")) & (F.col("e1.v") < F.col("e2.v"))
    )
    wedges = e1.join(e2, (F.col("e1.u") == F.col("e2.u")) & wedge_lt).select(
        F.col("e1.u").alias("x"),
        F.col("e1.v").alias("y"),
        F.col("e2.v").alias("z"),
    )
    exact_close = (F.col("e3.u") == F.col("y")) & (F.col("e3.v") == F.col("z"))
    if edge_count is None or edge_count <= hash_broadcast_cap_edges:
        closing = F.xxhash64(F.col("y"), F.col("z"))
        edge_hashes = oriented.select(F.xxhash64("u", "v").alias("__h"))
        candidates = wedges.join(
            F.broadcast(edge_hashes), closing == F.col("__h"), "left_semi"
        )
        return candidates.join(e3, exact_close, "left_semi")
    return wedges.join(e3.hint("shuffle_hash"), exact_close, "left_semi")


def triangle_counts(
    edges: DataFrame,
    edge_count: int | None = None,
    hash_broadcast_cap_edges: int = KTRUSS_HASH_BROADCAST_CAP_EDGES,
) -> DataFrame:
    """Per-node triangle counts (the GraphFrames ``triangleCount`` / GDS
    ``triangleCount`` surface): canonicalize the input to (a < b) pairs,
    orient up the (degree, id) total order (_orient_edges — arboricity
    bound, O(m^1.5) wedge work), enumerate each triangle once
    (_enumerate_triangles, gated sort-free closing join), explode the
    three corners, count per node. Returns (id, n_triangles); nodes in no
    triangle are absent. The oriented set is localCheckpointed — three
    plan instances feed the wedge/closing self-joins — and when
    ``edge_count`` is None it is COUNTED there (~free on the just-
    materialized checkpoint) so the broadcast-vs-shuffle-hash gate is
    self-applying: a bare call on a 100M-edge graph must never build a
    driver-side broadcast hash set past the cap (the k-truss round-3
    lesson, applied by default here)."""
    canonical = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    oriented = _orient_edges(canonical).localCheckpoint()
    if edge_count is None:
        edge_count = oriented.count()
    tri = _enumerate_triangles(oriented, edge_count, hash_broadcast_cap_edges)
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def local_clustering_coefficient(
    edges: DataFrame,
    edge_count: int | None = None,
    hash_broadcast_cap_edges: int = KTRUSS_HASH_BROADCAST_CAP_EDGES,
) -> DataFrame:
    """Per-node local clustering coefficient (the GDS
    ``localClusteringCoefficient`` surface): lcc = 2·triangles /
    (deg·(deg−1)) over the canonical undirected graph, 0 for degree < 2.
    Degrees and triangle counts share one canonicalized edge set; both
    divisions take exact-int inputs so the doubles are correctly-rounded
    identically cross-engine (the property the oracle checks). Returns
    (id, degree, n_triangles, lcc)."""
    canonical = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        canonical.select(F.col("a").alias("id"))
        .unionByName(canonical.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = triangle_counts(
        canonical.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        edge_count,
        hash_broadcast_cap_edges,
    )
    return deg.join(tri, "id", "left_outer").select(
        "id",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            2.0
            * F.coalesce("n_triangles", F.lit(0)).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)),
        )
        .otherwise(0.0)
        .alias("lcc"),
    )


def triangles_stream(
    edges: DataFrame,
    edge_count: int | None = None,
    hash_broadcast_cap_edges: int = KTRUSS_HASH_BROADCAST_CAP_EDGES,
) -> DataFrame:
    """Enumerate each triangle of the canonical undirected graph exactly
    once as an ordered triple (the stock ``gds.alpha.triangles`` stream
    surface — nodeA/nodeB/nodeC rows, one per triangle; round 8).

    Shares _orient_edges + _enumerate_triangles with triangle_counts /
    k_truss (degree-oriented wedges, arboricity-bounded O(m^1.5) work,
    gated sort-free closing join), so the 100-TB shape is the one already
    rehearsed for those ops. The enumeration emits corners in DEGREE
    order; the output sorts each triple by node id (array_sort — same
    total order as DuckDB list_sort on strings) so rows are deterministic
    and oracle-checkable. Returns (node_a < node_b < node_c)."""
    canonical = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    oriented = _orient_edges(canonical).localCheckpoint()
    if edge_count is None:
        edge_count = oriented.count()
    tri = _enumerate_triangles(oriented, edge_count, hash_broadcast_cap_edges)
    s = F.array_sort(F.array("x", "y", "z"))
    return tri.select(
        s.getItem(0).alias("node_a"),
        s.getItem(1).alias("node_b"),
        s.getItem(2).alias("node_c"),
    )


def hits_scores(
    edges: DataFrame,
    iterations: int = 2,
    normalized: bool = False,
) -> DataFrame:
    """Fixed-iteration HITS hubs-and-authorities in exact integers on the
    push-sum kernel (the stock ``gds.alpha.hits`` surface; round 8).
    Directed src→dst edges; ``h_0 = 1`` everywhere, then per iteration
    the textbook (Kleinberg 1999) synchronous update pair, one kernel
    half-round each:

        auth_t(v) = Σ over in-neighbors u of hub_{t-1}(u)    (src→dst)
        hub_t(u)  = Σ over out-neighbors v of auth_t(v)      (dst→src)

    Stock GDS (Pregel) L2-normalizes both vectors each iteration — a
    positive GLOBAL scalar per step, so directions are unaffected and
    normalizing ONCE at the end is mathematically identical (the
    eigenvector_scaled argument, applied twice: hub = E·(a/c) = (E·a)/c).
    ``normalized=False`` returns the raw integer walk counts
    (id, auth, hub longs) — the oracle-checkable form; ``normalized=True``
    returns each vector on its unit L2 sphere as doubles
    (:func:`_unit_l2`).

    Bounds: values ≤ n·d_max^(2k), so iterations is capped at 8 and the
    caller owns n·d_max^(2k) < 2^63 (same documented contract as
    eigenvector_scaled / katz)."""
    if not 1 <= iterations <= 8:
        raise ValueError("need 1 <= iterations <= 8")
    e = edges.select("src", "dst")
    nodes = _endpoint_ids(e).localCheckpoint()
    summed = F.coalesce("s", F.lit(0))
    a, h = _push_sum(
        e,
        nodes,
        nodes.withColumn("hub", F.lit(1).cast("long")),
        iterations,
        ("src", "dst", F.col("hub"), summed, "auth"),
        ("dst", "src", F.col("auth"), summed, "hub"),
    )
    out = a.join(h, "id").select("id", "auth", "hub")
    return _unit_l2(out, ["auth", "hub"]) if normalized else out


class GraphContainsCycleError(ValueError):
    """Raised by topological_levels when the input graph is not a DAG —
    the stock ``gds.dag.topologicalSort`` contract (it fails on cycles
    rather than emitting a partial order silently)."""


def topological_levels(
    dag: DataFrame, max_rounds: int | None = None
) -> DataFrame:
    """Topological sort with longest-distance-from-source levels (the
    stock ``gds.dag.topologicalSort.stream`` surface with
    ``computeMaxDistanceFromSource: true``; round 8). Input: directed
    (src, dst) edges of a DAG.

    Kahn peeling, level-synchronous: round r removes every live node
    whose in-degree over LIVE edges is zero and assigns it distance r —
    a node is removed exactly when its last predecessor was, so the round
    number IS the longest path length from any source (stock's
    maxDistanceFromSource). Each round is one aggregate over live edges +
    an anti-join; the live set only shrinks, so total work is
    O(depth · live-|E|) with the usual map-side combine, and rounds
    checkpoint (_ckpt) to keep lineage flat. A 1-row count probe per round
    detects stalls: live nodes remaining with nothing removable means a
    cycle → GraphContainsCycleError (stock parity: the proc FAILS on
    non-DAGs). ``max_rounds`` is the round-unrollable oracle budget
    (oracle form: max-relaxation d_{t+1}(v) = max(d_t(v), max over
    in-neighbors u of d_t(u)+1), which converges to the same longest
    distance — tests pin that the budget reaches the fixpoint at the
    oracle SF). Returns (id, dist long); dist is a DOUBLE in stock's
    stream — the compiler casts there, keeping the exact long here."""
    e = dag.select("src", "dst").filter(F.col("src") != F.col("dst"))
    live_n = _endpoint_ids(e).localCheckpoint()
    live_e = e.distinct().localCheckpoint()
    out: DataFrame | None = None
    rounds = 0
    n_nodes = live_n.count()
    budget = max_rounds if max_rounds is not None else n_nodes + 1
    while rounds < budget:
        targets = live_e.select(F.col("dst").alias("id")).distinct()
        removed = live_n.join(targets, "id", "left_anti").select(
            "id", F.lit(rounds).cast("long").alias("dist")
        ).transform(_ckpt)
        n_removed = removed.count()
        if n_removed == 0:
            if live_n.isEmpty():
                break
            if max_rounds is None:
                raise GraphContainsCycleError(
                    "graph contains a cycle: no zero-in-degree node among "
                    f"{live_n.count()} live nodes after {rounds} rounds"
                )
            break
        out = removed if out is None else out.unionByName(removed)
        live_n = live_n.join(removed, "id", "left_anti").transform(_ckpt)
        live_e = live_e.join(
            removed.select(F.col("id").alias("src")), "src", "left_anti"
        ).transform(_ckpt)
        rounds += 1
    if out is None:
        return live_n.select("id", F.lit(0).cast("long").alias("dist")).filter(
            F.lit(False)
        )
    return out


_NODESIM_METRICS = ("jaccard", "overlap", "cosine")


def _string_rank_ids(nodes: DataFrame, parts: int | None = None) -> DataFrame:
    """ORDER-PRESERVING dense rank (id string → pos long) with no global
    window task (round 8 — the nodesim pack): range-repartition by id
    (sampled boundaries; partition i's ids all sort before partition
    i+1's), per-partition row_number, then the broadcast prefix-offset
    table (the knn_scalar_topk / _coredec_packed two-phase pattern, with
    RANGE buckets instead of hash buckets precisely so that
    pos(x) < pos(y) ⇔ x < y as strings — the property that keeps packed
    a<b candidate filters and (score, id)-tie-break windows
    oracle-identical to the string forms). Returns (id, pos);
    offsets are ≤ ``parts`` rows by construction. ``parts`` defaults to
    the session's ``spark.sql.shuffle.partitions`` (round 9: the old
    constant 256 cost ~8.5 s of 33 ms scheduling-overhead tasks at
    sf0.1 — the same scale-parameterized number every other exchange
    uses is the right granularity here too; positions are a dense rank,
    so the value is independent of ``parts``)."""
    from pyspark.sql.window import Window

    if parts is None:
        parts = int(
            nodes.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    p = nodes.select("id").repartitionByRange(parts, F.col("id"))
    local = (
        p.withColumn("bucket", F.spark_partition_id())
        .withColumn(
            "lpos",
            F.row_number()
            .over(Window.partitionBy("bucket").orderBy("id"))
            .cast("long"),
        )
        .localCheckpoint()  # pin ONE partitioner evaluation: offsets and
        # positions must see the same bucket assignment
    )
    woff = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        local.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bn"))
        .withColumn("boff", F.coalesce(F.sum("bn").over(woff), F.lit(0)))
        .select("bucket", "boff")
    )
    return local.join(F.broadcast(offsets), "bucket").select(
        "id", (F.col("lpos") + F.col("boff")).alias("pos")
    )


# Degree table row cap for an explicit broadcast in the nodesim rank tail:
# Catalyst's Aggregate size estimate inherits the CHILD's sizeInBytes, so a
# node-cardinality degree frame derived from an |E|-row edge set is
# estimated at |E| width and never auto-broadcasts — measured at sf0.1 the
# two deg joins planned as sort-merge and cost an exchange each. 4M rows
# × ~16 B is ~64 MB, comfortably inside the local driver heap and any
# sane executor broadcast budget; above it the joins stay shuffles (the
# 100-TB-correct default).
NODESIM_DEG_BROADCAST_MAX_ROWS = 4_000_000


def _nodesim_rank(
    inter: DataFrame,
    deg: DataFrame,
    k: int,
    metric: str,
    symmetric: bool = False,
    deg_rows: int | None = None,
) -> DataFrame:
    """Shared scoring+ranking tail of the node-similarity family: join
    degrees onto (a, b, inter) pairs, score with the chosen GDS
    similarityMetric, symmetrize, take per-node top-k with the
    deterministic (score desc, id) tie-break. All three metrics divide
    exact-int inputs, so the doubles are correctly rounded identically
    cross-engine (cosine's sqrt is IEEE correctly rounded too — da·db is
    an exact long well under 2^53 before the cast):

    - jaccard  = inter / (da + db − inter)
    - overlap  = inter / min(da, db)
    - cosine   = inter / sqrt(da · db)

    ``symmetric=True`` (round 9): the caller's ``inter`` already holds
    BOTH pair orders — skip the symmetrizing union. With the a<b input
    the union's two branches each re-planned the ENTIRE upstream
    subtree (wedge join + pair aggregate + verification, found in the
    round-9 plan audit: the sf0.1 wedge aggregate ran twice), so
    asymmetric callers now get their scored frame localCheckpointed
    once before the union instead of recomputed per branch.

    The two degree joins broadcast when the degree table is small
    (:data:`NODESIM_DEG_BROADCAST_MAX_ROWS` — one bounded count against
    a node-cardinality aggregate of an already-materialized edge set);
    a broadcast deg also keeps the aggregate's hash partitioning on
    ``a`` intact through to the window, which then needs no second
    exchange."""
    from pyspark.sql.window import Window

    if metric not in _NODESIM_METRICS:
        raise ValueError(
            f"metric must be one of {_NODESIM_METRICS}, got {metric!r}"
        )
    if deg_rows is None:
        deg_rows = deg.count()
    if deg_rows <= NODESIM_DEG_BROADCAST_MAX_ROWS:
        deg = F.broadcast(deg)
    da, db, iv = F.col("da"), F.col("db"), F.col("inter")
    score = {
        "jaccard": iv.cast("double") / (da + db - iv),
        "overlap": iv.cast("double") / F.least(da, db),
        "cosine": iv.cast("double") / F.sqrt((da * db).cast("double")),
    }[metric]
    scored = (
        inter.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
        .select(
            "a",
            "b",
            F.col("inter").cast("long").alias("inter"),
            (F.col("da") + F.col("db") - F.col("inter")).cast("long").alias(
                "union_sz"
            ),
            score.alias(metric),
        )
    )
    if symmetric:
        sym = scored
    else:
        scored = scored.localCheckpoint()
        sym = scored.unionByName(
            scored.select(
                F.col("b").alias("a"),
                F.col("a").alias("b"),
                "inter",
                "union_sz",
                metric,
            )
        )
    w = Window.partitionBy("a").orderBy(F.col(metric).desc(), F.col("b"))
    return (
        sym.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "a", "b", "inter", "union_sz", metric,
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# Vectorized nodesim kernel guards (round 9). Packing puts the member's
# out-degree in the low bits of one long — degree must fit DEG_BITS and
# the packed node position the remaining 63-DEG_BITS bits. The volume
# guards bound Arrow-batch memory: one candidate row holds
# sum(df over the node's neighbors) ≤ max_deg × max_df packed longs, and
# the TOTAL Arrow transfer is exactly sum(df²) — the same quantity that
# prices the wedge join, read from the same one-job df aggregate.
NODESIM_VEC_DEG_BITS = 21
NODESIM_VEC_MAX_ROW_ELEMS = 32_000_000  # ≤ ~256 MB for one node's row
NODESIM_VEC_MAX_TOTAL_ELEMS = 1_000_000_000  # ≤ ~8 GB Arrow total


def _nodesim_vec_kernel(k: int, metric: str):
    """mapInPandas kernel for the vectorized node-similarity top-k: input
    rows are one EDGE each — node ``a`` plus the packed member list
    ``mem`` of one of its neighbors (every member ``b`` packed as
    b·2^DEG_BITS + deg(b)); a's rows all land in the kernel's partition
    (the caller partitions by ``a``). The kernel accumulates each node's
    arrays and out-degree itself (round 9 — this replaces a JVM
    flatten(collect_list) hash aggregate that built the same sum(df²)
    arrays with two copies and giant agg buffers), then np.unique gives
    (b, deg(b), inter) per node in one radix-ish pass — the 21.8M-group
    pair aggregate this path replaces had a measured multiplicity of
    ~1.005, so the JVM paid two full-size hash maps for no reduction;
    numpy counts each node's ~thousand candidates in microseconds.
    Scoring and the (score desc, b) tie-break are IEEE float64 —
    bit-identical to the JVM/DuckDB expressions (differential-pinned in
    tests)."""
    import numpy as np
    import pandas as pd

    shift = NODESIM_VEC_DEG_BITS
    mask = np.int64((1 << shift) - 1)

    def kernel(batches):
        acc: dict = {}
        for pdf in batches:
            for a, mem in zip(pdf["a"].values, pdf["mem"].values):
                acc.setdefault(a, []).append(
                    np.asarray(mem, dtype=np.int64)
                )
        oa, ob, oi, ou, os_, orn = [], [], [], [], [], []
        for a, chunks in acc.items():
            da = len(chunks)  # one input row per out-neighbor of a
            arr = chunks[0] if da == 1 else np.concatenate(chunks)
            arr = arr[(arr >> shift) != a]
            if arr.size == 0:
                continue
            uniq, cnt = np.unique(arr, return_counts=True)
            b = uniq >> shift
            db = uniq & mask
            inter = cnt.astype(np.int64)
            union = da + db - inter
            if metric == "jaccard":
                score = inter / union
            elif metric == "overlap":
                score = inter / np.minimum(da, db)
            else:  # cosine
                score = inter / np.sqrt((da * db).astype(np.float64))
            order = np.lexsort((b, -score))[:k]
            m = order.size
            oa.append(np.full(m, a, dtype=np.int64))
            ob.append(b[order])
            oi.append(inter[order])
            ou.append(union[order])
            os_.append(score[order])
            orn.append(np.arange(1, m + 1, dtype=np.int64))
        if oa:
            yield pd.DataFrame(
                {
                    "a": np.concatenate(oa),
                    "b": np.concatenate(ob),
                    "inter": np.concatenate(oi),
                    "union_sz": np.concatenate(ou),
                    metric: np.concatenate(os_),
                    "rnk": np.concatenate(orn),
                }
            )

    return kernel


def node_similarity_topk(
    edges: DataFrame,
    k: int = 10,
    metric: str = "jaccard",
    assume_distinct: bool = False,
    vectorized: bool | str = "auto",
    _df_stats: tuple | None = None,
) -> DataFrame:
    """Neighborhood node similarity (the GDS ``nodeSimilarity`` surface):
    Jaccard of OUT-neighbor sets between source nodes, top-``k``
    most-similar per node with a deterministic (jaccard desc, id)
    tie-break. Intersections come from a partial-agg'd co-neighbor
    self-join keyed on the shared neighbor — the only shuffle of edge
    cardinality; degree tables are node-cardinality. Hub neighbors fan
    out quadratically — the same skew the dedup family handles; at 100 TB
    the production fix is the frequency-cap + exact-verify pattern of
    operators/dedup.py jaccard_pairs_capped. Jaccard = inter/(da+db−inter)
    from exact ints, so the doubles match the oracle bit-for-bit. Returns
    (a, b, inter, union_sz, jaccard, rnk). The edge list is
    localCheckpointed (it feeds both self-join sides plus the degree
    agg).

    The (src, dst) projection is DISTINCT'd first (ADVICE r5): the
    catalog supports parallel edges, and without the dedup both the
    intersection and the degree count them twice — multiset Jaccard
    instead of GDS's neighbor-SET semantics (triangle_counts already
    canonicalizes the same way).

    ``metric`` picks the GDS similarityMetric — jaccard (default),
    overlap, cosine; the score column is named after it
    (:func:`_nodesim_rank`).

    PACKED pipeline (round 8, VERDICT r7 ask #6 — the entry was 19% of
    the suite total): ids are dictionary-encoded to longs via the
    ORDER-PRESERVING range rank (:func:`_string_rank_ids`), the wedge
    self-join + pair aggregate + degree joins + top-k window all run on
    8-byte keys (measured: the dominant wedge-agg stage 12.1 s → 7.1 s
    at sf0.1 — hashing/sorting longs beats strings), and only the final
    |V|·k top-k rows decode back (two key-partitioned joins at output
    cardinality). Order preservation makes the packed a<b filter and
    (score desc, b) tie-break EXACTLY the string semantics — the oracle
    is unchanged. Encode cost: two |E|-row translate joins + a |V|-row
    dictionary, amortized over the sum(df²) wedge volume.

    ``assume_distinct=True`` (internal, round 8): the capped wrapper
    hands over an edge set it has ALREADY distinct'd and checkpointed —
    re-distincting it here was a full extra |E| shuffle for nothing.

    VECTORIZED kernel (round 9, VERDICT r8 ask #1 — the entry was ~20%
    of the suite total and the round-9 plan audit found the wedge
    aggregate both slow AND planned twice): the per-pair intersection
    count is a hash aggregate with ~21.8M groups from 22M wedge rows at
    sf0.1 — measured multiplicity 1.005, so the JVM's partial+final
    HashAggregate pair builds two full-size hash maps for no combining
    at ~3.7M rows/s. The ``"auto"`` default instead keeps every shuffle
    and group JVM-side but moves the count+score+top-k inner loop to an
    Arrow-batched numpy kernel: per shared neighbor, collect the packed
    (member · 2^21 + deg) src-list (a TINY |distinct dst|-group
    aggregate), attach it to each edge, flatten per node — one shuffle
    of exactly sum(df²) longs, the same volume the wedge join moved —
    then :func:`_nodesim_vec_kernel` uniques/scores/ranks each node's
    candidates in one vectorized pass (measured sf0.1: 13.2 s → 2.3 s
    for the post-encode stages; output bit-identical incl. the float64
    scores and tie-breaks). Guards (one bounded probe job over the two
    degree aggregates) fall back to the JVM path when packing or Arrow
    volume would not be safe: max deg < 2^{21}, packed position
    < 2^{42}, one node's candidate row ≤ 32M elems, total Arrow volume
    = sum(df²) ≤ 1e9 elems. ``vectorized=True`` skips only the volume
    guards (raising if packing itself is impossible); ``False`` forces
    the JVM path. The JVM path itself is the round-9 single-pass form:
    the wedge filter is ``!=`` not ``<`` so the pair aggregate is
    ALREADY symmetric (the old a<b + union form re-planned the whole
    wedge subtree once per union branch), the aggregate is
    repartitioned by ``a`` alone so the top-k window reuses its
    exchange, and the degree/decode joins broadcast under
    :data:`NODESIM_DEG_BROADCAST_MAX_ROWS`."""
    if not (
        vectorized is True or vectorized is False or vectorized == "auto"
    ):
        raise ValueError(
            f"vectorized must be True, False or 'auto'; got {vectorized!r}"
        )
    if metric not in _NODESIM_METRICS:
        raise ValueError(
            f"metric must be one of {_NODESIM_METRICS}, got {metric!r}"
        )
    e = edges.select("src", "dst")
    if not assume_distinct:
        e = e.distinct()
    ids = _string_rank_ids(_endpoint_ids(e)).localCheckpoint()
    ep = (
        e.join(ids.select(F.col("id").alias("src"), F.col("pos").alias("ps")), "src")
        .join(ids.select(F.col("id").alias("dst"), F.col("pos").alias("pd")), "dst")
        .select(F.col("ps").alias("src"), F.col("pd").alias("dst"))
        .localCheckpoint()
    )
    deg = (
        ep.groupBy(F.col("src").alias("n"))
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint()
    )
    use_vec = False
    sum_df2 = None
    n_edges = None
    if vectorized is not False:
        # one bounded probe job per degree aggregate (scalar results);
        # both frames are node-cardinality aggs of the checkpointed ep
        # |ids| rides the same probe job as a crossJoin of two 1-row
        # aggregates (ADVICE r9 medium): ``pos`` is a 1-based dense rank
        # over src ∪ dst, so max(pos) over the dictionary IS |V| — while
        # max(n) over ``deg`` only sees SOURCE positions and nv only
        # counts out-degree holders; on sink-heavy graphs |V| can vastly
        # exceed both, and the decode-dictionary broadcast must gate on
        # the frame it actually ships.
        drow = (
            deg.agg(F.max("d"), F.max("n"), F.sum("d"), F.count(F.lit(1)))
            .crossJoin(ids.agg(F.max("pos").alias("_nids")))
            .collect()[0]
        )
        max_d, max_pos, n_edges, nv, n_ids = (
            drow[0], drow[1], drow[2], drow[3], drow[4],
        )
        if max_d is not None:
            packable = (
                max_d < (1 << NODESIM_VEC_DEG_BITS)
                and max_pos < (1 << (63 - NODESIM_VEC_DEG_BITS))
            )
            if vectorized is True:
                if not packable:
                    raise ValueError(
                        "vectorized=True but the graph is not packable: "
                        f"max degree {max_d} / max position {max_pos} "
                        f"exceed the {NODESIM_VEC_DEG_BITS}-bit packing"
                    )
                use_vec = True
            elif packable:
                if _df_stats is not None:
                    # the capped wrapper already paid the df-histogram
                    # job on this exact edge set — reuse its (max_df,
                    # sum_df²) instead of re-aggregating
                    max_df, sum_df2 = _df_stats
                else:
                    frow = (
                        ep.groupBy("dst")
                        .agg(F.count(F.lit(1)).alias("df"))
                        .agg(
                            F.max("df"),
                            F.sum(F.col("df") * F.col("df")),
                        )
                        .collect()[0]
                    )
                    max_df, sum_df2 = frow[0], frow[1]
                use_vec = (
                    max_d * max_df <= NODESIM_VEC_MAX_ROW_ELEMS
                    and sum_df2 <= NODESIM_VEC_MAX_TOTAL_ELEMS
                )
    if vectorized is False:
        nv = deg.count()  # the probe (which carries it) did not run
        # |ids| for the decode-broadcast gate: the probe did not run, so
        # pay one count on the checkpointed dictionary (ADVICE r9 medium:
        # nv counts only out-degree holders; on sink-heavy graphs the
        # dictionary is far larger and must not broadcast past the cap)
        n_ids = ids.count()
    if use_vec:
        shift = F.lit(1 << NODESIM_VEC_DEG_BITS).cast("long")
        degb = (
            F.broadcast(deg)
            if nv <= NODESIM_DEG_BROADCAST_MAX_ROWS
            else deg
        )
        memb = ep.join(degb, ep["src"] == degb["n"]).select(
            "dst", (F.col("src") * shift + F.col("d")).alias("packed")
        )
        # |distinct dst| groups — a real-reduction aggregate, unlike the
        # pair aggregate this path replaces; its output total is |E| longs
        dstlist = memb.groupBy("dst").agg(
            F.collect_list("packed").alias("mem")
        )
        # The attach-and-flatten explodes |E| joined rows into sum(df²)
        # packed longs. Round 9 (profile finding): AQE coalesced the
        # attach join's ~3 MB of INPUT shuffle to ONE partition and a
        # single task then wrote the whole exploded frame (140.8 MB at
        # sf0.1, 2.0 s serialized) — coalescing decides from input bytes
        # and cannot see the 50× explosion. The partition count is now
        # pinned from the KNOWN output volume (sum_df2 — the same probe
        # that gated this path), floored at the session's shuffle
        # partitions: scale-adaptive, never 1 (guide §2.5 input-size
        # derivation). And when the packed member table is small enough
        # to broadcast (|E| rows ≤ NODESIM_MEMB_BCAST_ROWS,
        # 4M ≈ 64 MB framed), the guide-§8 move applies: ship the
        # tiny proxy once and pre-partition ep by src, so the exploded
        # payload is BORN on its final groupBy(a) partitioning and never
        # crosses the wire at all (plan: zero Exchange between the attach
        # join and the kernel).
        spark = ep.sparkSession
        base_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if sum_df2 is not None:
            n_parts = max(base_parts, int(sum_df2 * 8 // (64 << 20)) + 1)
        else:
            n_parts = base_parts
        if n_edges is not None and n_edges <= NODESIM_MEMB_BCAST_ROWS:
            ga = (
                ep.repartition(n_parts, "src")
                .join(F.broadcast(dstlist), "dst")
                .select(F.col("src").alias("a"), "mem")
            )
        else:
            ga = (
                ep.repartition(n_parts, "dst")
                .join(dstlist, "dst")
                .select(F.col("src").alias("a"), "mem")
                .repartition(n_parts, "a")
            )
        # the kernel groups by ``a`` itself (rows arrive partitioned by a)
        # — no JVM flatten(collect_list) aggregate building the sum(df²)
        # arrays twice before Arrow ships them once more
        topk = ga.mapInPandas(
            _nodesim_vec_kernel(k, metric),
            f"a long, b long, inter long, union_sz long, "
            f"{metric} double, rnk long",
        )
    else:
        wedges = (
            ep.alias("x")
            .join(ep.alias("y"), "dst")
            .filter(F.col("x.src") != F.col("y.src"))
            .select(F.col("x.src").alias("a"), F.col("y.src").alias("b"))
        )
        inter = (
            wedges.repartition("a")
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        topk = _nodesim_rank(
            inter,
            deg.select(F.col("n"), F.col("d")),
            k,
            metric,
            symmetric=True,
            deg_rows=nv,
        )
    # decode joins run at output cardinality (|V|·k rows); the dictionary
    # is |V| rows — broadcast it under the same gate as the degree table
    # (round 9: the LogicalRDD's unknown stats otherwise force two
    # sort-merge joins with an exchange each)
    idsd = (
        F.broadcast(ids)
        if (n_ids or 0) <= NODESIM_DEG_BROADCAST_MAX_ROWS
        else ids
    )
    return (
        topk.join(idsd.select(F.col("pos").alias("a"), F.col("id").alias("_ia")), "a")
        .join(idsd.select(F.col("pos").alias("b"), F.col("id").alias("_ib")), "b")
        .select(
            F.col("_ia").alias("a"),
            F.col("_ib").alias("b"),
            "inter",
            "union_sz",
            metric,
            "rnk",
        )
    )


def node_similarity_topk_capped(
    edges: DataFrame,
    k: int = 10,
    freq_cap: int | str | None = None,
    upper_degree_cutoff: int | None = None,
    skew_ratio: int = 4,
    metric: str = "jaccard",
    assume_distinct: bool = False,
) -> DataFrame:
    """Frequency-capped node similarity — the 100-TB shape of
    :func:`node_similarity_topk`, the same production pattern as
    operators/dedup.py jaccard_pairs_capped: the co-neighbor self-join's
    cost is sum(df²) over shared-neighbor document frequencies, and one
    hub neighbor (df = millions at web scale) makes one reducer
    quadratic. The cap:

    1. candidate generation drops shared neighbors with df > ``freq_cap``
       (a neighbor shared by everyone carries no similarity
       discrimination but dominates join cost), bounding any reducer's
       work by freq_cap²;
    2. exact VERIFICATION re-joins candidate pairs against the FULL edge
       set, so inter/union/jaccard values are exact, never capped
       approximations.

    Recall trade (the only semantic difference): a pair whose shared
    neighbors are ALL hot is never generated — at a sane cap that is
    "nodes similar only through universal hubs", the pair a similarity
    search wants to ignore. ``freq_cap=None`` (with no cutoff) delegates
    to the uncapped single-pass operator. The hot-neighbor list is tiny
    (df > cap keys) → broadcast anti-join; verification groups by the
    naturally high-cardinality pair key — combiner-reduced, no skew to
    salt.

    ``upper_degree_cutoff`` (the GDS nodeSimilarity ``upperDegreeCutoff``
    knob) excludes nodes with out-degree above it from PAIR MEMBERSHIP
    entirely — found-the-hard-way at the 2M-skew rehearsal tier: the dst
    frequency cap alone bounds CANDIDATE GENERATION, but a mega-hub as a
    pair MEMBER drags its full neighbor list into the verification join
    once per candidate pair (5 hubs × ~2M candidates spilled local disk
    to death, SCALE.md). A hub's Jaccard against any normal node is
    ≤ deg_small/deg_hub ≈ 0 anyway, so the cutoff drops only pairs the
    top-k would never rank. With the cutoff, verification is bounded by
    |candidates| × cutoff rows; surviving pairs keep EXACT values over
    their full neighbor lists.

    ``freq_cap="auto"`` SELF-GATES (VERDICT r5): the cap+verify two-pass
    is skew INSURANCE — on an unskewed graph it pays ~1.5–2× the
    single-pass cost for identical output (measured, SCALE.md uniform
    tier). So "auto" reads the shared-neighbor df HISTOGRAM (one
    ``groupBy(df).count()``, |distinct dfs| rows — the sample_roots
    trick) from the cutoff-filtered edge set and only engages the cap
    when max_df > ``skew_ratio`` × median_df (lower median); otherwise
    it delegates to the uncapped single pass over the same edge set,
    which is value-identical because verification is exact. When it
    DOES engage, the cap is ``skew_ratio × median_df`` — NOT the
    round-5 scale-relative (9·max_df) div 10, which is measured
    toothless under a genuinely heavy-tailed df distribution: on the
    2M-skew tier the fat band of dsts just UNDER 0.9×max survives the
    index and candidate generation explodes quadratically in that band
    (~80 GB spill, disk death — round-6 rehearsal), while the
    median-anchored cap prunes the whole hot tail and bounds any
    reducer at (skew_ratio·median)², the same philosophy as
    operators/dedup.py's absolute cap. The histogram is read from the
    SAME post-cutoff set the index is built from (ADVICE r5: the
    pre-cutoff max diverged from the oracle's post-keepers subquery
    once any node crossed the cutoff).

    Like :func:`node_similarity_topk`, the (src, dst) projection is
    DISTINCT'd first — GDS neighbor-set semantics under parallel edges
    (ADVICE r5) — and ``metric`` picks the GDS similarityMetric
    (jaccard/overlap/cosine; verification is metric-independent, only
    the scoring tail changes)."""
    if freq_cap is None and upper_degree_cutoff is None:
        return node_similarity_topk(edges, k, metric, assume_distinct)
    # assume_distinct (round 8): callers whose edge build is a groupBy —
    # one row per (src, dst) by construction, like the suite's
    # graph_edges — skip the redundant |E| distinct shuffle here (the
    # checkpoint stays: four subplans read this frame)
    e = edges.select("src", "dst")
    if not assume_distinct:
        e = e.distinct()
    e = e.localCheckpoint()
    if upper_degree_cutoff is not None:
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("__d"))
            .filter(F.col("__d") <= upper_degree_cutoff)
            .select("src")
        )
        e = e.join(keep, "src", "left_semi").localCheckpoint()
    if freq_cap == "auto":
        hist = sorted(
            (r["df"], r["cnt"])
            for r in e.groupBy("dst")
            .agg(F.count(F.lit(1)).alias("df"))
            .groupBy("df")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        if not hist:
            return node_similarity_topk(e, k, metric, assume_distinct=True)
        total = sum(c for _, c in hist)
        half, run, med = (total + 1) // 2, 0, hist[-1][0]
        for d, c in hist:
            run += c
            if run >= half:
                med = d
                break
        mx = hist[-1][0]
        freq_cap = None if mx <= skew_ratio * med else skew_ratio * med
        if freq_cap is None:
            # unskewed: delegate, reusing the histogram's (max_df,
            # sum_df²) so the vectorized auto-gate needs no second
            # df-aggregate job over the same edge set (round 9)
            return node_similarity_topk(
                e,
                k,
                metric,
                assume_distinct=True,
                _df_stats=(mx, sum(d * d * c for d, c in hist)),
            )
    if freq_cap is None:
        # unskewed (or explicit no-cap with a cutoff): the single pass on
        # the cutoff-filtered set is value-identical to cap+verify with a
        # never-hot cap, at roughly half the cost (assume_distinct: e is
        # already the distinct'd checkpointed projection — round 8)
        return node_similarity_topk(e, k, metric, assume_distinct=True)
    index = e
    if freq_cap is not None:
        hot = (
            e.groupBy("dst")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > freq_cap)
            .select("dst")
        )
        index = e.join(F.broadcast(hot), "dst", "left_anti")
    cand = (
        index.alias("x")
        .join(index.alias("y"), "dst")
        .filter(F.col("x.src") < F.col("y.src"))
        .select(F.col("x.src").alias("a"), F.col("y.src").alias("b"))
        .distinct()
    )
    fa = e.select(F.col("src").alias("a"), F.col("dst").alias("_na"))
    fb = e.select(F.col("src").alias("_b"), F.col("dst").alias("_nb"))
    inter = (
        cand.join(fa, "a")
        .join(fb, (F.col("b") == F.col("_b")) & (F.col("_na") == F.col("_nb")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    deg = e.groupBy(F.col("src").alias("n")).agg(F.count(F.lit(1)).alias("d"))
    return _nodesim_rank(inter, deg, k, metric)


def _triangle_support(
    oriented: DataFrame,
    edge_count: int | None = None,
    hash_broadcast_cap_edges: int = KTRUSS_HASH_BROADCAST_CAP_EDGES,
) -> DataFrame:
    """Per-edge triangle support over a degree-oriented (u, v, dv) edge
    set (_orient_edges). Returns (u, v, support); edges in no triangle are
    absent (the caller left-joins and fills 0).

    A triangle found at wedge apex x with far corners y, z has edges
    (x,y), (x,z), (y,z) — all three already IN oriented coordinates ((x,y)
    and (x,z) by construction, (y,z) because the closing match is against
    the oriented set), so support aggregates without re-canonicalizing.

    ``edge_count`` gates the closing-join strategy (k_truss passes the
    live-set count it already materializes each round): at or under
    ``hash_broadcast_cap_edges`` the broadcast hash prefilter runs; above
    it, the shuffle-hash fallback. ``None`` (direct callers on small
    graphs) keeps the broadcast path."""
    tri = _enumerate_triangles(oriented, edge_count, hash_broadcast_cap_edges)
    # Closing semi-join, SORT-FREE: the wedge stream is O(sum outdeg²) rows
    # — orders of magnitude larger than the edge set on dense graphs — and
    # Catalyst's default sort-merge semi-join SORTS it (observed at the
    # 2M-skew rehearsal tier: ~2B wedges from the 264k near-clique
    # spill-sorted local disk to death, SPILL_OUT_OF_MEMORY/No space left).
    # Under the broadcast cap, two phases — the dedup family's
    # prefilter+verify shape:
    #   1. map-side semi-join against the BROADCAST 64-bit hash set of
    #      oriented edges (8 B/edge serialized), so wedges stream through
    #      unshuffled and unsorted and only ~#triangles rows (plus rare
    #      hash collisions) survive;
    #   2. the exact semi-join on that tiny survivor set — correctness
    #      never rests on the hash.
    # Above the cap (the hash relation would blow the driver — round-3
    # VERDICT), the exact semi-join runs directly as a SHUFFLE-HASH join:
    # both sides hash-partition on (y,z)/(u,v) and the build side is the
    # per-partition edge slice — the wedge stream pays one shuffle write
    # (~24 B/row, spread across the cluster) but is NEVER sorted, and the
    # prefilter adds nothing without a broadcast (the stream side would
    # shuffle its full rows either way).
    pairs = (
        tri.select(F.col("x").alias("u"), F.col("y").alias("v"))
        .unionAll(tri.select(F.col("x").alias("u"), F.col("z").alias("v")))
        .unionAll(tri.select(F.col("y").alias("u"), F.col("z").alias("v")))
    )
    return pairs.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )


def _ktruss_delta_dec(o_old: DataFrame, peeled: DataFrame) -> DataFrame:
    """Per-edge support DECREMENTS for one delta peel round (round 8):
    the number of triangles of the previous live set ``o_old`` that
    contain at least one ``peeled`` edge, counted once per triangle for
    each SURVIVING member edge. Both frames are in oriented (u, v, dv)
    coordinates; every triangle decomposes uniquely into
    e1=(x,y), e2=(x,z), e3=(y,z) with x<y<z in the (degree, id) order,
    so enumerating each peeled edge in each of the three roles — always
    JOINING FROM THE PEELED SIDE — finds every affected triangle with
    work proportional to the peel frontier's wedges, not the live set's:

      role e1: peeled ⋈ o_old on the shared apex (wedge), close in o_old
      role e2: o_old ⋈ peeled on the shared apex, close in o_old
      role e3: peeled (y,z) ⋈ o_old (x,y) ⋈ o_old (x,z) — apex discovery

    The role union is distinct'd by triple (a triangle with 2-3 peeled
    members appears in several roles but must decrement each survivor
    ONCE), members are exploded, peeled members anti-joined out, and the
    rest counted. Closing/apex joins carry shuffle_hash hints — the
    _triangle_support lesson: the streams must never be sort-merged.
    Returns (u, v, dec)."""
    e_old = o_old.select("u", "v", "dv")
    p = peeled.select("u", "v", "dv")
    e1, e2, e3 = e_old.alias("e1"), e_old.alias("e2"), e_old.alias("e3")
    p1, p2 = p.alias("e1"), p.alias("e2")
    wedge_lt = (F.col("e1.dv") < F.col("e2.dv")) | (
        (F.col("e1.dv") == F.col("e2.dv")) & (F.col("e1.v") < F.col("e2.v"))
    )
    corners = [
        F.col("e1.u").alias("x"),
        F.col("e1.v").alias("y"),
        F.col("e2.v").alias("z"),
    ]
    exact_close = (F.col("e3.u") == F.col("y")) & (F.col("e3.v") == F.col("z"))
    t1 = (
        p1.join(e2, (F.col("e1.u") == F.col("e2.u")) & wedge_lt)
        .select(*corners)
        .join(e3.hint("shuffle_hash"), exact_close, "left_semi")
    )
    t2 = (
        e1.join(p2.hint("shuffle_hash"), (F.col("e1.u") == F.col("e2.u")) & wedge_lt)
        .select(*corners)
        .join(e3.hint("shuffle_hash"), exact_close, "left_semi")
    )
    t3 = (
        p.select(F.col("u").alias("y"), F.col("v").alias("z"))
        .join(e1.hint("shuffle_hash"), F.col("e1.v") == F.col("y"))
        .join(
            e2.hint("shuffle_hash"),
            (F.col("e2.u") == F.col("e1.u")) & (F.col("e2.v") == F.col("z")),
            "left_semi",
        )
        .select(F.col("e1.u").alias("x"), "y", "z")
    )
    tri = t1.unionByName(t2).unionByName(t3).distinct()
    members = (
        tri.select(F.col("x").alias("u"), F.col("y").alias("v"))
        .unionAll(tri.select(F.col("x").alias("u"), F.col("z").alias("v")))
        .unionAll(tri.select(F.col("y").alias("u"), F.col("z").alias("v")))
    )
    return (
        members.join(p.select("u", "v"), ["u", "v"], "left_anti")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("dec"))
    )


def k_truss(
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
    reliable_checkpoint: bool = False,
    hash_broadcast_cap_edges: int = KTRUSS_HASH_BROADCAST_CAP_EDGES,
    branch_log: list | None = None,
    delta: bool | str = "auto",
) -> DataFrame:
    """Edges of the k-truss: the maximal subgraph where every edge closes
    >= k-2 triangles within the subgraph — the standard cohesive-subgraph
    refinement of k-core (every k-truss is inside the (k-1)-core, but
    trussness also prunes locally tree-like hubs that survive coring).
    Peeling: compute per-edge triangle support, drop edges under k-2,
    repeat — removal cascades because a dropped edge destroys its
    triangles.

    ``rounds=None`` runs to the fixpoint (stop when a peel removes
    nothing); a fixed ``rounds`` runs exactly that many peels — the
    deterministic form the DuckDB oracle mirrors round-for-round, equal to
    the fixpoint whenever peeling converges within the budget. Returns the
    surviving canonical (a, b) edges with the support measured in the
    final round.

    Scale: degrees and orientation are computed ONCE (_orient_edges — any
    fixed total order stays correct across peels); each round is then one
    wedge join + the sort-free two-phase closing join + one support
    aggregation, all in oriented coordinates. Per-round checkpoints cut
    the re-execution lineage exactly like k_core's peel."""
    if k < 3:
        raise ValueError("k-truss needs k >= 3 (k-2 >= 1 triangles)")

    canonical = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # materialized once: every round self-joins the live set three times
    live = _ckpt(_orient_edges(canonical), reliable_checkpoint)
    # the count is ~free on the just-materialized checkpoint and gates the
    # closing-join strategy (broadcast prefilter vs shuffle-hash — see
    # _triangle_support). Peeling only REMOVES edges, so once m is at or
    # under the cap every later round is too — re-count per round only
    # while above the cap (to switch back to broadcast when the peel
    # shrinks past it)
    m = live.count()
    out_cols = [
        F.least(F.col("u"), F.col("v")).alias("a"),
        F.greatest(F.col("u"), F.col("v")).alias("b"),
        F.col("support"),
    ]
    if delta:
        # DELTA peeling (round 8, the BACKLOG ktruss item): round 1 pays
        # the one full enumeration it cannot avoid; a later round can
        # derive supports by DECREMENT — support over L_{i+1} equals
        # support over L_i minus the triangles of L_i touching the peel
        # frontier (removal only destroys triangles, never creates), and
        # those triangles are enumerable FROM the frontier
        # (_ktruss_delta_dec), so the round's work scales with the peel
        # frontier's wedges, not the live set's. Value-identical to the
        # full form round-for-round (differential-pinned): both report
        # the final round's input-set supports on the surviving edges.
        #
        # MEASURED split (SCALE.md round 8) — the decrement is ~3 role
        # joins over the frontier's wedges, so it wins exactly when the
        # frontier is a small fraction of the live set: sf0.1 same-brand
        # graph (modest peels) 9.2 s → 6.1 s (1.5×); 2M-skew tier (round
        # 1 peels 98.7% of edges) 159 s → 629 s (4× LOSS). Default
        # "auto" therefore picks PER ROUND, from counts it already has:
        # decrement when n_peeled × 4 < n_live_after (frontier under
        # ~1/4 — the 3× role-join cost model plus margin), full
        # re-enumeration of the shrunken live set otherwise. True forces
        # decrement every round (the A/B knob); False is the always-
        # re-enumerate loop below.
        auto = delta == "auto"

        def _log_enum(rnd: int, n: int, extra: dict | None = None) -> None:
            # same record shape as the delta=False loop, so the
            # closing-join crossover pin observes the gate regardless of
            # which peel loop runs
            if branch_log is not None:
                branch_log.append({
                    "round": rnd,
                    "live_edges": n,
                    "branch": "broadcast"
                    if n <= hash_broadcast_cap_edges
                    else "shuffle_hash",
                    **(extra or {}),
                })

        _log_enum(1, m)
        sup = _triangle_support(live, m, hash_broadcast_cap_edges)
        state = _ckpt(
            live.join(sup, ["u", "v"], "left").select(
                "u",
                "v",
                "dv",
                F.coalesce(F.col("support"), F.lit(0)).alias("support"),
            ),
            reliable_checkpoint,
        )
        n_live = m
        i = 1
        while True:
            kept = state.filter(F.col("support") >= k - 2)
            if rounds is not None and i >= rounds:
                return kept.select(*out_cols)
            # round 10: peeled is a FILTER over the just-checkpointed
            # state — its consumers (the delta-dec role joins + the
            # anti-join) re-filter the materialized blocks, which is a
            # cheap in-memory scan, so the dedicated checkpoint + count
            # pair (2 sequential jobs + py4j round-trips per round) is
            # replaced by one count job on the lazy filter
            peeled = state.filter(F.col("support") < k - 2)
            n_peeled = peeled.count()
            if n_peeled == 0:
                # nothing to peel: supports are already the fixpoint
                # values, and every remaining budgeted round would be a
                # no-op — return now (the full loop burns one enumeration
                # per empty round; the delta loop's whole point is not to)
                if branch_log is not None:
                    branch_log.append(
                        {"round": i + 1, "peeled": 0, "branch": "fixpoint"}
                    )
                return kept.select(*out_cols)
            n_live_after = n_live - n_peeled
            use_dec = (not auto) or (n_peeled * 4 < n_live_after)
            if use_dec and branch_log is not None:
                branch_log.append({
                    "round": i + 1,
                    "live_edges": n_live_after,
                    "peeled": n_peeled,
                    "branch": "delta",
                })
            if not use_dec:
                _log_enum(i + 1, n_live_after, {"peeled": n_peeled})
            # the state built on the LAST budgeted round is only filtered
            # and returned — leave it lazy (round 9: one checkpoint job +
            # py4j round-trip saved; the final query carries the one-round
            # lineage instead)
            last = rounds is not None and i + 1 >= rounds
            if use_dec:
                dec = _ktruss_delta_dec(
                    state.select("u", "v", "dv"),
                    peeled.select("u", "v", "dv"),
                )
                state = kept.join(dec, ["u", "v"], "left").select(
                    "u",
                    "v",
                    "dv",
                    (
                        F.col("support")
                        - F.coalesce(F.col("dec"), F.lit(0))
                    ).alias("support"),
                )
                if not last:
                    state = _ckpt(state, reliable_checkpoint)
            else:
                live2 = _ckpt(kept.select("u", "v", "dv"), reliable_checkpoint)
                sup2 = _triangle_support(
                    live2, n_live_after, hash_broadcast_cap_edges
                )
                state = live2.join(sup2, ["u", "v"], "left").select(
                    "u",
                    "v",
                    "dv",
                    F.coalesce(F.col("support"), F.lit(0)).alias("support"),
                )
                if not last:
                    state = _ckpt(state, reliable_checkpoint)
            n_live = n_live_after
            i += 1
    i = 0
    prev_n = None
    while True:
        if branch_log is not None:
            # rehearsal/test hook: record which closing-join branch this
            # round's live count selects, so a run crossing the cap shows
            # the switch (shuffle-hash above, back to broadcast below)
            branch_log.append({
                "round": i + 1,
                "live_edges": m,
                "branch": "broadcast"
                if m <= hash_broadcast_cap_edges
                else "shuffle_hash",
            })
        sup = _triangle_support(live, m, hash_broadcast_cap_edges)
        kept = (
            live.join(sup, ["u", "v"], "left")
            .select(
                "u",
                "v",
                "dv",
                F.coalesce(F.col("support"), F.lit(0)).alias("support"),
            )
            .filter(F.col("support") >= k - 2)
        )
        i += 1
        if rounds is not None:
            if i >= rounds:
                return kept.select(*out_cols)
            live = _ckpt(kept.select("u", "v", "dv"), reliable_checkpoint)
            if m > hash_broadcast_cap_edges:
                m = live.count()
            continue
        kept = _ckpt(kept, reliable_checkpoint)
        n = kept.count()
        if prev_n is not None and n == prev_n:
            return kept.select(*out_cols)
        prev_n = n
        m = n
        live = kept.select("u", "v", "dv")


def _pairs_reach(
    seeds: DataFrame, step: DataFrame, lo: int, hi: int
) -> DataFrame:
    """Distinct ``(__src, __last)`` pairs joined by a WALK of ``lo..hi``
    steps, self-pairs dropped: the distinct-pair var-length expansion of
    the Cypher frontend. ``seeds`` holds distinct ``__src`` keys, ``step``
    the oriented edges ``(__last, __next)``.

    The step table is pinned once (every hop re-joins it). The frontier is
    made distinct per hop, so a round costs distinct pairs x degree, never
    walk count. Rounds unroll lazily up to ``BFS_LAZY_K``; deeper walks
    cut each round (_ckpt) and stop once the frontier empties."""
    step = step.localCheckpoint().withColumnRenamed("__last", "__via")
    lazy = hi <= BFS_LAZY_K
    frontier, key = seeds, "__src"
    reached = None
    for hop in range(1, hi + 1):
        frontier = (
            frontier.join(step, F.col(key) == F.col("__via"))
            .select("__src", F.col("__next").alias("__last"))
            .distinct()
        )
        key = "__last"
        if not lazy:
            frontier = _ckpt(frontier)
            if frontier.isEmpty():
                break
        if hop >= lo:
            reached = (
                frontier if reached is None
                else reached.unionByName(frontier).distinct()
            )
    if reached is None:  # the walk died out before lo hops
        reached = frontier
    return reached.filter(F.col("__src") != F.col("__last"))


def _extend_paths(
    state: DataFrame, step: DataFrame, lo: int, hi: int
) -> DataFrame:
    """Extend every path of ``state`` by ``lo..hi`` more steps under
    Cypher's relationship-uniqueness rule (a relationship appears at most
    once per path; node revisits via different relationships are allowed
    -- openCypher 9 §8.5). Returns the union of the extensions of each
    length in ``lo..hi``.

    ``state`` carries the node sequence ``__nodes``, the relationship ids
    ``__rels``, optionally the per-hop weights ``__dists``, the endpoint
    ``__last``, and any other columns, which ride along unchanged.
    ``step`` is ``(__last, __next, __rid[, __dist])``; ``__rid`` identifies
    a relationship (and must be the same in both orientations of an
    undirected walk). Uniqueness is an ``array_contains`` over the
    accumulated ``__rels``, so it spans every extension of one path.

    Output-sized by construction: each round joins only the current path
    frontier against the pinned step table. Rounds unroll lazily up to
    ``BFS_LAZY_K``; deeper expansions cut each round (_ckpt) and stop once
    no path extends."""
    step = step.localCheckpoint()
    own = ("__nodes", "__rels", "__dists", "__last")
    ext = [c for c in state.columns if c not in own] + [
        F.concat("__nodes", F.array("__next")).alias("__nodes"),
        F.concat("__rels", F.array("__rid")).alias("__rels"),
        F.col("__next").alias("__last"),
    ]
    if "__dists" in state.columns:
        ext.append(F.concat("__dists", F.array("__dist")).alias("__dists"))
    lazy = hi <= BFS_LAZY_K
    out = None
    for hop in range(1, hi + 1):
        state = (
            state.join(step, "__last")
            .filter(~F.array_contains(F.col("__rels"), F.col("__rid")))
            .select(*ext)
        )
        if not lazy:
            state = _ckpt(state)
            if state.isEmpty():
                break
        if hop >= lo:
            out = state if out is None else out.unionByName(state)
    return state if out is None else out  # None: no path reached lo hops


def _shortest_frontier(seeds: DataFrame, step: DataFrame, hi: int) -> DataFrame:
    """Every shortest path of ``1..hi`` steps from each seed to each node it
    reaches, as ``(__src, __nodes, __last[, __dists])``; ``__last != __src``.
    ``seeds`` holds distinct ``__src`` keys, ``step`` the oriented edges
    ``(__last, __next[, __dist])``; ``__dists`` is carried when the step
    has a weight.

    Level-synchronous BFS carrying paths: per round only FRONTIER paths
    (those whose (seed, endpoint) pair was first reached this level) are
    extended, and an anti-join against the visited pair set drops
    non-shortest extensions, so state is bounded by the shortest-path
    count, not the walk count (the prefix property makes extending only
    shortest prefixes exact). Shortest paths are simple, so Cypher's
    relationship uniqueness holds for free. Rounds unroll lazily up to
    ``BFS_LAZY_K``; deeper searches cut each round (_ckpt) and stop once
    the frontier empties."""
    step = step.localCheckpoint()
    lazy = hi <= BFS_LAZY_K
    first = [
        "__src",
        F.array("__src", "__next").alias("__nodes"),
        F.col("__next").alias("__last"),
    ]
    ext = [
        "__src",
        F.concat("__nodes", F.array("__next")).alias("__nodes"),
        F.col("__next").alias("__last"),
    ]
    if "__dist" in step.columns:
        first.append(F.array("__dist").alias("__dists"))
        ext.append(F.concat("__dists", F.array("__dist")).alias("__dists"))
    # visited (seed, node) pairs; seeds start visited (no hop-0 pairs)
    visited = seeds.select("__src", F.col("__src").alias("__last"))
    # hop-1 pairs are new by construction; only self-loops need dropping
    frontier = (
        visited.join(step, "__last")
        .select(*first)
        .filter(F.col("__src") != F.col("__last"))
    )
    if not lazy:
        visited, frontier = _ckpt(visited), _ckpt(frontier)
    out = frontier
    for _hop in range(2, hi + 1):
        visited = visited.unionByName(
            frontier.select("__src", "__last").distinct()
        )
        if not lazy:
            visited = _ckpt(visited)
        frontier = (
            frontier.join(step, "__last")
            .select(*ext)
            .join(visited, ["__src", "__last"], "left_anti")
        )
        if not lazy:
            frontier = _ckpt(frontier)
            if frontier.isEmpty():
                break
        out = out.unionByName(frontier)
    return out


def _lexmin_path(paths: DataFrame) -> DataFrame:
    """One path per ``(__src, __last)`` pair: the lexicographically
    smallest ``__nodes`` (array min orders identically in Spark and DuckDB,
    so the pick stays oracle-checkable). Neo4j's ``shortestPath`` returns
    an arbitrary one; a distributed engine must pick deterministically.
    The other columns follow their path."""
    rest = [c for c in paths.columns if c not in ("__src", "__nodes", "__last")]
    return (
        paths.groupBy("__src", "__last")
        .agg(F.min(F.struct("__nodes", *rest)).alias("__m"))
        .select("__src", "__last", "__m.*")
    )


def var_length_paths(
    seeds: DataFrame,
    edges: DataFrame,
    lo: int,
    hi: int,
    threshold: float | None = None,
    directed: bool = True,
) -> DataFrame:
    """Per-PATH variable-length expansion -- exact Neo4j cardinality for
    ``MATCH p = (s)-[:sharesDNA*lo..hi]->(b) RETURN p``: one output row per
    distinct PATH (not per reachable pair), under Cypher's
    relationship-uniqueness rule (a relationship may appear at most once in
    a path; node revisits via different relationships are allowed --
    openCypher 9 §8.5 / Neo4j's RELATIONSHIP_ISOMORPHISM default).

    The reference's queries collapse paths to node sets
    (/root/reference/phageclouds_gdb.py:56-67), so the distinct-pair
    ``k_hop`` is its fast path; this operator closes the remaining semantic
    gap for ``RETURN p`` / ``count(*)``-over-paths queries.

    Output: ``(src, dst, path array<string>, hops int)`` where ``path`` is
    the full node sequence (length hops+1).

    Identity of a relationship = its stored row. Edges are stored once per
    unordered pair with no parallel edges (BASELINE.md "edge storage"), so
    the canonical pair string ``least||'|'||greatest`` identifies a
    relationship in both orientations -- an undirected traversal cannot
    reuse the same stored edge backwards. (A multigraph would need a
    surrogate edge id; out of scope for this data model.)

    Scale: the expansion is ``_extend_paths``, the kernel the Cypher
    frontend's named var-length paths share. Per-round shuffle = frontier
    size x avg out-degree. Path count grows combinatorially on dense
    graphs; that is inherent to per-path semantics (Neo4j explodes
    identically) -- callers who only need reachability should use
    ``k_hop``. Hop cap 10 mirrors the Cypher frontend bound."""
    if lo < 1 or hi < lo or hi > 10:
        raise ValueError("need 1 <= lo <= hi <= 10")
    e = edges if threshold is None else edges.filter(
        F.col("distance") <= F.lit(threshold)
    )
    rid = F.concat(
        F.least("src", "dst"), F.lit("|"), F.greatest("src", "dst")
    ).alias("__rid")
    step = e.select(F.col("src").alias("__last"), F.col("dst").alias("__next"), rid)
    if not directed:
        step = step.unionByName(
            e.select(F.col("dst").alias("__last"), F.col("src").alias("__next"), rid)
        )
    state = (
        seeds.select(F.col("id").alias("__last"))
        .distinct()
        .select(
            F.array("__last").alias("__nodes"),
            F.array().cast("array<string>").alias("__rels"),
            "__last",
        )
    )
    return _extend_paths(state, step, lo, hi).select(
        F.element_at("__nodes", 1).alias("src"),
        F.col("__last").alias("dst"),
        F.col("__nodes").alias("path"),
        (F.size("__nodes") - F.lit(1)).alias("hops"),
    )


def shortest_paths(
    seeds: DataFrame,
    edges: DataFrame,
    max_hops: int,
    threshold: float | None = None,
    directed: bool = True,
    mode: str = "all",
) -> DataFrame:
    """BFS shortest paths from each seed — the Neo4j
    ``shortestPath((a)-[:T*..k]-(b))`` / ``allShortestPaths(...)`` surface
    (the one Cypher path function the reference's users have that the
    var-length expand doesn't cover).

    ``mode='all'``: every shortest path per reachable (seed, node) pair
    (allShortestPaths). ``mode='one'``: exactly one path per pair, the
    lexicographically smallest node sequence (``_lexmin_path``).

    Output: ``(src, dst, path array<string>, hops int)``; ``dst != src``
    (no zero-length paths).

    Scale: the search is ``_shortest_frontier``, the level-synchronous BFS
    the Cypher frontend's ``shortestPath`` shares: state is bounded by the
    shortest-path count, not the walk count."""
    if mode not in ("all", "one"):
        raise ValueError("mode must be 'all' or 'one'")
    if max_hops < 1 or max_hops > 10:
        raise ValueError("need 1 <= max_hops <= 10")
    e = edges if threshold is None else edges.filter(
        F.col("distance") <= F.lit(threshold)
    )
    step = e.select(F.col("src").alias("__last"), F.col("dst").alias("__next"))
    if not directed:
        step = step.unionByName(
            e.select(F.col("dst").alias("__last"), F.col("src").alias("__next"))
        )
    paths = _shortest_frontier(
        seeds.select(F.col("id").alias("__src")).distinct(), step, max_hops
    )
    if mode == "one":
        paths = _lexmin_path(paths)
    return paths.select(
        F.col("__src").alias("src"),
        F.col("__last").alias("dst"),
        F.col("__nodes").alias("path"),
        (F.size("__nodes") - F.lit(1)).alias("hops"),
    )


def cheapest_path_costs(
    seeds: DataFrame,
    edges: DataFrame,
    max_hops: int,
    scale: float = 10000.0,
    threshold: float | None = None,
    directed: bool = True,
) -> DataFrame:
    """Hop-bounded WEIGHTED shortest-path costs (the Neo4j GDS
    Dijkstra/sssp surface, hop-bounded): for each (seed, node) pair the
    minimum total edge ``distance`` over any connecting path of at most
    ``max_hops`` edges. Weights are quantized to integers
    (``floor(distance * scale + 0.5)``) so the min is an exact, totally
    ordered long — no float-summation order sensitivity, hence
    oracle-checkable and cluster-deterministic.

    Bellman-Ford relaxation, not path enumeration: state is one row per
    REACHED (seed, node) pair — ``max_hops`` rounds of
    (best ⋈ edges) → union → groupBy-min — so memory is pair-bounded even
    on graphs whose path count explodes. With non-negative weights the
    min over walks equals the min over simple paths, so no uniqueness
    bookkeeping is needed. Output: ``(src, dst, cost)``; dst != src.

    Scale: per-round shuffle = reached pairs × avg degree, map-side
    combined into the groupBy-min; rounds checkpoint (_ckpt). At 1000× the
    round count stays max_hops; only pair cardinality grows."""
    if max_hops < 1 or max_hops > 10:
        raise ValueError("need 1 <= max_hops <= 10")
    e = edges if threshold is None else edges.filter(
        F.col("distance") <= F.lit(threshold)
    )
    w = F.floor(F.col("distance").cast("double") * F.lit(scale) + F.lit(0.5)).cast(
        "long"
    )
    step = e.select(
        F.col("src").alias("_u"), F.col("dst").alias("_v"), w.alias("_w")
    )
    if not directed:
        step = step.unionByName(
            e.select(
                F.col("dst").alias("_u"), F.col("src").alias("_v"), w.alias("_w")
            )
        )
    step = step.localCheckpoint()  # re-joined every relaxation round
    # Round 9: lazy small-k unroll (shared BFS_LAZY_K gate) — each round
    # ends in the groupBy-min aggregate, so the doubly-consumed previous
    # round (union + join legs) dedups at its exchange
    lazy = max_hops <= BFS_LAZY_K
    best = (
        seeds.select("id")
        .distinct()
        .select(
            F.col("id").alias("_src"),
            F.col("id").alias("_node"),
            F.lit(0).cast("long").alias("_cost"),
        )
    )
    if not lazy:
        best = best.localCheckpoint()
    for _round in range(max_hops):
        cand = best.join(step, best["_node"] == step["_u"]).select(
            "_src",
            F.col("_v").alias("_node"),
            (F.col("_cost") + F.col("_w")).alias("_cost"),
        )
        best = (
            best.unionByName(cand)
            .groupBy("_src", "_node")
            .agg(F.min("_cost").alias("_cost"))
        )
        if not lazy:
            best = _ckpt(best)
    return best.filter(F.col("_node") != F.col("_src")).select(
        F.col("_src").alias("src"),
        F.col("_node").alias("dst"),
        F.col("_cost").alias("cost"),
    )


class NegativeCycleError(ValueError):
    """Raised by bellman_ford_costs when a negative-weight cycle is
    reachable from a seed — min-cost over walks is then unbounded below
    (stock ``gds.bellmanFord`` streams the cycle instead of paths; this
    engine fails loudly, the documented divergence)."""


def bellman_ford_costs(
    seeds: DataFrame,
    weighted_edges: DataFrame,
    max_rounds: int | None = None,
) -> DataFrame:
    """Multi-source Bellman-Ford with NEGATIVE edge weights (the stock
    ``gds.bellmanFord`` surface; round 8) — the semantic
    :func:`cheapest_path_costs` can't express (its non-negative-weights
    argument "min over walks = min over simple paths" breaks the moment
    a weight is negative, and its hop bound silently truncates).

    Input: ``weighted_edges (src, dst, w)`` with ``w`` an already-
    quantized LONG (exact, order-free min — the cheapest_path_costs
    convention; callers quantize floats with the usual
    floor(x·scale + 0.5)); directed as given. ``seeds (id)``.

    FRONTIER relaxation (round 9 — the SPFA/delta form, measured after
    the 200k rehearsal showed the synchronous form re-relaxing the FULL
    reached state every round): each round relaxes only the edges out
    of the pairs IMPROVED last round, computes per-(seed, node) minima
    of those candidates, keeps the strict improvements vs the standing
    state (one left join), and merges them in (anti-join + union). This
    is round-for-round VALUE-IDENTICAL to full synchronous relaxation:
    after round r the state holds the exact min cost over walks of
    ≤ r hops — a node reaches its ≤(r−1)-hop optimum by round r−1 (by
    induction), re-enters the frontier at whatever round it last
    improved, and relaxes its out-edges the following round, so every
    ≤ r-hop walk's cost is present by round r, and every present cost
    IS some walk's cost (never below the true min). ``max_rounds=r``
    therefore stays the round-unrollable oracle form, identical in
    SQL. The fixpoint is reached exactly when the improvement frame is
    EMPTY — which replaces the round-8 (count, decimal-sum) probe with
    one bounded isEmpty() on the (usually tiny) frontier — and
    :class:`NegativeCycleError` raises if improvements continue past
    |V| rounds (a shortest simple path has ≤ |V|−1 edges; only a
    reachable negative cycle improves past that — the textbook
    detection, distributed).

    Scale: per-round shuffle = |frontier| × avg out-degree (map-side
    combined into the min) + one |state|-row anti-join merge; rounds
    checkpoint (_ckpt) so lineage stays flat. Late rounds touch only the
    still-improving fringe instead of all reached pairs — the same
    delta discipline as k-core/k-truss. Returns ``(src, dst, cost
    long)`` including the (seed, seed, ≤0) row when a negative walk
    returns to the seed — dropped only when it stays at the trivial
    0."""
    step = weighted_edges.select(
        F.col("src").alias("_u"),
        F.col("dst").alias("_v"),
        F.col("w").cast("long").alias("_w"),
    ).localCheckpoint()
    best = (
        seeds.select("id")
        .distinct()
        .select(
            F.col("id").alias("_src"),
            F.col("id").alias("_node"),
            F.lit(0).cast("long").alias("_cost"),
        )
        .localCheckpoint()
    )
    n_nodes = None
    if max_rounds is None:
        n_nodes = (
            step.select(F.col("_u").alias("n"))
            .unionByName(step.select(F.col("_v").alias("n")))
            .distinct()
            .count()
        )
    delta = best
    rounds = 0
    while True:
        cand = (
            delta.join(step, delta["_node"] == step["_u"])
            .select(
                "_src",
                F.col("_v").alias("_node"),
                (F.col("_cost") + F.col("_w")).alias("_cc"),
            )
            .groupBy("_src", "_node")
            .agg(F.min("_cc").alias("_cc"))
        )
        imp = (
            cand.join(best, ["_src", "_node"], "left")
            .filter(
                F.col("_cost").isNull() | (F.col("_cc") < F.col("_cost"))
            )
            .select("_src", "_node", F.col("_cc").alias("_cost"))
            .transform(_ckpt)
        )
        rounds += 1
        # an empty improvement frame IS the fixpoint (also what makes an
        # edge-free projection or out-edge-less seeds a clean no-op —
        # ADVICE r8); checking it first keeps the budgeted form
        # early-exit-identical to the unrolled oracle
        if imp.isEmpty():
            break
        best = (
            best.join(imp, ["_src", "_node"], "left_anti")
            .unionByName(imp)
            .transform(_ckpt)
        )
        delta = imp
        if max_rounds is not None:
            if rounds >= max_rounds:
                break
            continue
        if rounds > n_nodes:
            raise NegativeCycleError(
                "negative-weight cycle reachable from a seed: costs still "
                f"improving after {rounds} rounds on {n_nodes} nodes"
            )
    return best.filter(
        (F.col("_node") != F.col("_src")) | (F.col("_cost") < 0)
    ).select(
        F.col("_src").alias("src"),
        F.col("_node").alias("dst"),
        F.col("_cost").alias("cost"),
    )


def dag_longest_paths(
    weighted_edges: DataFrame, max_rounds: int | None = None
) -> DataFrame:
    """Weighted LONGEST path distance from any source to each node of a
    DAG (the stock ``gds.dag.longestPath.stream`` surface; round 8).
    Input: directed (src, dst, w) with ``w`` an already-quantized LONG
    (signed allowed — on a DAG the sum is exact either way).

    Longest = Bellman-Ford on NEGATED weights seeded at the DAG's
    sources (zero-in-degree nodes), then max-over-sources = the negated
    min over (seed, node) minima — exact integer algebra end to end, no
    new iteration machinery. On a cyclic input the negated positive
    cycle is a negative cycle, so the fixpoint run surfaces the stock
    DAG-proc failure contract as :class:`GraphContainsCycleError`
    (a zero-total cycle is geometrically still a cycle but does not
    diverge — it is reported as a cycle only when it changes costs,
    matching what longest-path semantics can detect). ``max_rounds`` is
    the round-unrollable oracle budget; like bellman_ford_costs (and
    unlike the toposort peeling) ANY budget is oracle-identical —
    both sides hold reached-so-far extrema. Sources themselves stream
    at distance 0. Returns (id, dist long)."""
    we = weighted_edges.select(
        "src", "dst", F.col("w").cast("long").alias("w")
    ).localCheckpoint()
    sources = (
        we.select(F.col("src").alias("id"))
        .distinct()
        .join(we.select(F.col("dst").alias("id")).distinct(), "id", "left_anti")
        .localCheckpoint()
    )
    neg = we.select("src", "dst", (-F.col("w")).alias("w"))
    try:
        bf = bellman_ford_costs(sources, neg, max_rounds=max_rounds)
    except NegativeCycleError as exc:
        raise GraphContainsCycleError(
            f"gds.dag.longestPath needs a DAG: {exc}"
        ) from None
    reached = (
        bf.groupBy(F.col("dst").alias("id"))
        .agg((-F.min("cost")).cast("long").alias("dist"))
    )
    return sources.select(
        "id", F.lit(0).cast("long").alias("dist")
    ).unionByName(reached)


def merge_components(
    membership: DataFrame,
    new_edges: DataFrame,
    threshold: float | None = None,
) -> DataFrame:
    """INCREMENTAL connected-components maintenance: fold a batch of new
    edges into an existing ``(id, component)`` membership table without
    recomputing from scratch — the streaming-graph-ingestion form of the
    phage-clouds model (new genomes + similarity edges arrive; clouds
    merge). Exactness: labels are min-node-ids, and min is associative, so
    merging at the LABEL level commutes with the node-level fixpoint — the
    result is row-identical to recomputing components over old ∪ new edges
    (differential-tested, and oracle-checked via the batch-recompute SQL).

    Plan shape: map the batch endpoints through the current labels (two
    joins against the membership — broadcast when the batch is small),
    build the LABEL GRAPH (one node per touched component/new vertex —
    bounded by the batch size, NOT the graph size), run components on that
    tiny graph, and relabel the membership through the resulting mapping
    (again broadcast-sized). Cost scales with the batch and the number of
    AFFECTED components; untouched components' rows pass through a
    broadcast left-outer join unchanged. At 100 TB this is the difference
    between a per-batch full 390M-edge fixpoint (SCALE.md: minutes) and a
    few broadcast joins."""
    e = new_edges if threshold is None else new_edges.filter(
        F.col("distance") <= F.lit(threshold)
    )
    e = e.select("src", "dst").filter(F.col("src") != F.col("dst"))
    new_ids = (
        _endpoint_ids(e)
        .join(membership, "id", "left_anti")
        .select("id", F.col("id").alias("component"))
    )
    base = membership.unionByName(new_ids).localCheckpoint()

    lbl = base.withColumnRenamed("id", "__mid").withColumnRenamed(
        "component", "__mc"
    )
    mapped = (
        e.join(lbl, e["src"] == F.col("__mid"))
        .select(F.col("__mc").alias("__la"), "dst")
        .join(lbl, F.col("dst") == F.col("__mid"))
        .select("__la", F.col("__mc").alias("__lb"))
        .filter(F.col("__la") != F.col("__lb"))
        .select(F.col("__la").alias("src"), F.col("__lb").alias("dst"))
        .distinct()
    )
    if mapped.isEmpty():
        return base
    sub = connected_components(mapped).select(
        F.col("id").alias("__l"), F.col("component").alias("__newc")
    )
    return base.join(
        F.broadcast(sub), base["component"] == F.col("__l"), "left_outer"
    ).select(
        "id", F.coalesce("__newc", "component").alias("component")
    )


def deterministic_walks(
    edges: DataFrame,
    walk_length: int,
    walks_per_node: int = 1,
    starts: DataFrame | None = None,
    threshold: float | None = None,
    directed: bool = False,
) -> DataFrame:
    """DeepWalk-style random-walk corpus generation (the graph-embedding
    training-data op) with DETERMINISTIC pseudo-random neighbor selection:
    next(walk, step) = argmin over neighbors of
    ``md5(wid|step|current|neighbor)`` — md5 produces identical lowercase
    hex in Spark and DuckDB, so the walks are reproducible across engines,
    runs, and cluster layouts (a seeded RNG is not, under Spark's
    nondeterministic task placement). Statistically the argmin over a
    cryptographic hash is a uniform draw per (walk, step).

    Output: ``(start, wid, walk array<string>)`` — one row per walk;
    walks stop early at dead-end nodes (no out-neighbors, directed mode
    only).

    Scale: walk state is one row per walk; each step is one equi-join on
    the current node plus a per-walk window (partition = (start, wid),
    a few neighbor rows each — no skew: the window key is the walk, not
    the hub node). Steps checkpoint (_ckpt) to keep lineage flat; cost per
    step is walks × avg-degree."""
    from pyspark.sql.window import Window

    if walk_length < 1 or walk_length > 20:
        raise ValueError("need 1 <= walk_length <= 20")
    e = edges if threshold is None else edges.filter(
        F.col("distance") <= F.lit(threshold)
    )
    step_df = e.select(F.col("src").alias("_u"), F.col("dst").alias("_v"))
    if not directed:
        step_df = step_df.unionByName(
            e.select(F.col("dst").alias("_u"), F.col("src").alias("_v"))
        )
    step_df = step_df.localCheckpoint()  # re-joined every step
    if starts is None:
        starts = step_df.select(F.col("_u").alias("id")).distinct()
    else:
        starts = starts.select("id").distinct()
    frontier = (
        starts.select(
            "id",
            F.explode(
                F.sequence(F.lit(0), F.lit(walks_per_node - 1))
            ).alias("wid"),
        )
        .select(
            "id", "wid", F.array("id").alias("walk"), F.col("id").alias("_last")
        )
        .localCheckpoint()
    )
    # (round 9: the lazy small-length unroll was MEASURED AND REJECTED
    # here — 7.7-8.5 s eager vs 19.8-21.9 s lazy at sf0.1: each step's
    # row_number window does NOT dedup across the stuck/extend consumers,
    # so the whole walk prefix recomputes per step. Checkpoints stay.)
    done = None
    for step in range(1, walk_length + 1):
        stuck = frontier.join(
            step_df, frontier["_last"] == step_df["_u"], "left_anti"
        )
        done = stuck if done is None else done.unionByName(stuck)
        w = Window.partitionBy("id", "wid").orderBy(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("wid").cast("string"),
                    F.lit(str(step)),
                    F.col("_last"),
                    F.col("_v"),
                )
            )
        )
        frontier = (
            frontier.join(step_df, frontier["_last"] == step_df["_u"])
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "id",
                "wid",
                F.concat("walk", F.array("_v")).alias("walk"),
                F.col("_v").alias("_last"),
            )
            .transform(_ckpt)
        )
    out = frontier if done is None else frontier.unionByName(done)
    return out.select(F.col("id").alias("start"), "wid", "walk")


def _scc_local(edges: DataFrame, nodes: DataFrame | None) -> DataFrame:
    """Driver-local iterative Tarjan for graphs under the small-graph
    threshold — the same adaptive cutover as ``connected_components``. One
    Arrow transfer in, one createDataFrame out. Labels match the
    distributed path exactly (SCC label = MIN member id)."""
    id_type = edges.schema["src"].dataType
    pdf = edges.select("src", "dst").toPandas()
    adj: dict = {}
    for s, d in zip(pdf["src"], pdf["dst"]):
        adj.setdefault(s, []).append(d)
        adj.setdefault(d, [])
    if nodes is not None:
        for (n,) in nodes.select("id").toPandas().itertuples(index=False):
            adj.setdefault(n, [])

    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    label: dict = {}
    counter = [0]

    def strongconnect(root):
        # explicit work stack: (node, iterator position) — no recursion
        work = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            nbrs = adj[v]
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    label[w] = m
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])

    for v in list(adj):
        if v not in index:
            strongconnect(v)
    schema = StructType(
        [StructField("id", id_type, False), StructField("scc", id_type, False)]
    )
    return edges.sparkSession.createDataFrame(
        sorted(label.items()), schema
    )


def _hashmax_fixpoint(
    e: DataFrame,
    nodes: DataFrame,
    reliable: bool,
    max_iterations: int = 60,
) -> DataFrame:
    """``lab(v) = max id over {v} ∪ {u : u reaches v along e}`` — hash-max
    message passing with pointer jumping, the directed sibling of
    ``_components_hashmin``. The jump ``lab <- lab[lab]`` is sound because
    a node's label is always an ancestor-or-self, and an ancestor's
    ancestors are the node's ancestors; labels grow monotonically to the
    max-ancestor fixpoint in O(log diameter) rounds."""
    lab = _ckpt(nodes.select("id", F.col("id").alias("lab")), reliable)
    for _ in range(max_iterations):
        # both the edge step and the jump read the CHECKPOINTED previous
        # labels (jumping off the freshly-updated frame would re-evaluate
        # the expensive edge-join lineage twice per iteration)
        via_edge = (
            e.join(
                lab.select(F.col("id").alias("src"), F.col("lab").alias("slab")),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.max("slab").alias("elab"))
        )
        parents = lab.select(
            F.col("id").alias("lab"), F.col("lab").alias("_parent")
        )
        new = (
            lab.join(via_edge, "id", "left_outer")
            .join(parents, "lab", "left_outer")
            .select(
                "id",
                F.greatest(
                    F.col("lab"),
                    F.coalesce("elab", F.col("lab")),
                    F.coalesce("_parent", F.col("lab")),
                ).alias("new_lab"),
                (
                    (F.col("elab") > F.col("lab"))
                    | (F.col("_parent") > F.col("lab"))
                ).alias("_changed"),
            )
        )
        new = _ckpt(new.withColumnRenamed("new_lab", "lab"), reliable)
        n_changed = new.filter(F.col("_changed")).count()
        lab = new.drop("_changed")
        if n_changed == 0:
            return lab
    raise RuntimeError(
        f"_hashmax_fixpoint did not converge in {max_iterations} rounds"
    )


def strongly_connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_rounds: int = 60,
    checkpoint_dir: str | None = None,
    local_threshold: int = 5_000_000,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph (W6): one row per
    node, ``scc`` = MIN node id among its mutually-reachable set. The
    directed sibling of ``connected_components`` (which the reference's
    clouds are); no Cypher/GDS equivalent exists in the 375-LoC reference —
    this is the engine-extension surface.

    Distributed path = trim + forward-backward coloring (the Orzan/FB-Trim
    family — the standard shared-nothing SCC shape, also what GraphX/Pregel
    implementations use), all DataFrame joins/aggs:

    - **Trim**: nodes with zero in- or out-degree inside the remaining
      subgraph are singleton SCCs; peel them to fixpoint (each pass is two
      anti-joins, so a long acyclic chain costs cheap trim passes, never a
      full color+sweep round per layer).
    - **Color**: ``color(v) = max(id over ancestors ∪ {v})`` via hash-max
      message passing WITH pointer jumping (``_hashmax_fixpoint``) —
      O(log diameter) shuffle rounds, the same acceleration
      ``connected_components`` uses. Roots are nodes whose color is their
      own id, and a root is always its class's max id.
    - **Backward phase**: max-DESCENDANT labels over REVERSED same-color
      edges (same pointer-jumped fixpoint); ``v`` is in its root's SCC iff
      it reaches the class max, i.e. ``bcolor(v) == color(v)``. All color
      classes resolve simultaneously.
    - Peel the finished SCCs, repeat on the remainder.

    Outer rounds needed = nesting depth of the condensation "levels", not
    SCC count (every level's roots resolve in parallel); ``max_rounds``
    guards pathological chains — exceeded raises rather than returning a
    partial answer. At 100 TB scale each step is shuffle-on-node-id sized
    and the giant-SCC case (web graphs) converges in a handful of rounds;
    per-step :func:`_ckpt` (``localCheckpoint``, or reliable ``checkpoint`` when
    ``checkpoint_dir`` is set) keeps lineage flat exactly as the
    ``connected_components`` loop rehearsed to 390M edges.

    ``local_threshold``: at or under this many edges (probe via
    ``limit(N+1).count()``) run a driver-local iterative Tarjan instead —
    identical labels, no iterative jobs. The same probe re-fires at the
    top of every outer round, so once trimming + peeling shrink the
    residual under the threshold the tail is one Tarjan pass instead of
    dozens of fixpoint iterations (measured at 640k/1.45M: trim leaves a
    1.07M-edge cyclic core that Tarjan finishes in ~10 s, where the
    distributed color fixpoint alone needs ~30+ shuffle rounds). The 5M
    default is deliberate: outer rounds cost condensation-DEPTH levels of
    full fixpoints — a linear Tarjan over a few hundred MB in the driver
    beats hundreds of shuffle rounds whenever the residual fits, and the
    distributed ladder remains for graphs that genuinely don't. Pass 0 to
    force the distributed path end-to-end (differential tests do)."""
    if (
        local_threshold
        and edges.limit(local_threshold + 1).count() <= local_threshold
    ):
        return _scc_local(edges, nodes)
    reliable = checkpoint_dir is not None
    if reliable:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    # node set from the UNfiltered edges: a node whose only edge is a
    # self-loop is still a (singleton) SCC
    n = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    )
    if nodes is not None:
        n = n.unionByName(nodes.select("id"))
    remaining = _ckpt(n.distinct(), reliable)
    e = _ckpt(e, reliable)
    # empty accumulator up front so an empty/all-self-loop graph returns an
    # empty 2-col frame instead of crashing on done=None
    done: DataFrame = remaining.select(
        "id", F.col("id").alias("scc")
    ).limit(0)

    def _accum(done, part):
        return done.unionByName(part)

    for _ in range(max_rounds):
        if remaining.isEmpty():
            return done.select("id", "scc")
        # adaptive mid-loop cutover (same pattern as connected_components):
        # trimming + peeling shrink the residual fast; once it fits under
        # local_threshold, one Tarjan pass beats dozens of tail iterations
        if (
            local_threshold
            and e.limit(local_threshold + 1).count() <= local_threshold
        ):
            done = _accum(done, _scc_local(e, remaining))
            return done.select("id", "scc")
        # --- trim TO FIXPOINT: zero in-degree or zero out-degree =>
        # singleton SCC. Fixpoint here (cheap: two anti-joins per pass)
        # rather than in the outer loop, so a long acyclic chain in the
        # condensation costs trim passes only — never a full
        # color+backward-sweep round per peeled layer.
        while True:
            # anti-joins tolerate duplicate probe rows: no distinct() on the
            # endpoint projections (saves two shuffles per pass)
            has_out = e.select(F.col("src").alias("id"))
            has_in = e.select(F.col("dst").alias("id"))
            trimmed = _ckpt(  # materialize once; reused by 3 plans below
                remaining.join(has_out, "id", "left_anti")
                .unionByName(remaining.join(has_in, "id", "left_anti"))
                .distinct(),
                reliable,
            )
            if trimmed.isEmpty():
                break
            done = _accum(done, trimmed.select("id", F.col("id").alias("scc")))
            remaining = _ckpt(
                remaining.join(trimmed, "id", "left_anti"), reliable
            )
            e = _ckpt(
                e.join(trimmed.withColumnRenamed("id", "src"), "src", "left_anti")
                .join(trimmed.withColumnRenamed("id", "dst"), "dst", "left_anti")
                .select("src", "dst"),
                reliable,
            )
        if remaining.isEmpty():
            return done.select("id", "scc")
        # --- forward max-ancestor coloring: hash-max + pointer jumping,
        # O(log diameter) rounds (vs O(diameter) naive propagation — the
        # difference between ~6 and ~25 shuffle rounds on a web-scale SCC)
        color = _hashmax_fixpoint(e, remaining, reliable)
        # --- backward phase, all color classes at once: max-DESCENDANT
        # within each class over REVERSED class edges. The class root r is
        # the class's max id, so v belongs to r's SCC  ⟺  v reaches r
        # within the class  ⟺  bcolor(v) == color(v).
        ce = _ckpt(
            e.join(
                color.select(F.col("id").alias("src"), F.col("lab").alias("c1")),
                "src",
            )
            .join(
                color.select(F.col("id").alias("dst"), F.col("lab").alias("c2")),
                "dst",
            )
            .filter(F.col("c1") == F.col("c2"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst")),
            reliable,
        )
        bcolor = _hashmax_fixpoint(ce, remaining, reliable)
        scc_nodes = (
            color.join(bcolor.withColumnRenamed("lab", "blab"), "id")
            .filter(F.col("lab") == F.col("blab"))
            .select("id", F.col("lab").alias("color"))
        )
        labels = scc_nodes.groupBy("color").agg(F.min("id").alias("scc"))
        # checkpoint the accumulator once per outer round: it is a union
        # chain that otherwise grows one leg per trim pass + round, and a
        # few hundred legs turn Catalyst planning itself into the
        # bottleneck (observed: minutes of driver-side CPU, zero jobs)
        done = _ckpt(
            _accum(done, scc_nodes.join(labels, "color").select("id", "scc")),
            reliable,
        )
        marked = _ckpt(scc_nodes.select("id"), reliable)
        remaining = _ckpt(remaining.join(marked, "id", "left_anti"), reliable)
        e = _ckpt(
            e.join(marked.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(marked.withColumnRenamed("id", "dst"), "dst", "left_anti")
            .select("src", "dst"),
            reliable,
        )
    if remaining.isEmpty():
        return done.select("id", "scc")
    raise RuntimeError(
        f"strongly_connected_components did not converge in {max_rounds} rounds"
    )
