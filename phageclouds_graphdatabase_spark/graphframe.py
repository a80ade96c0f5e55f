"""GraphFrames-compatible facade: motif finding + algorithm wrappers.

GraphFrames (graphframes.github.io) is the canonical DataFrame graph API on
Spark; the reference's users coming from Spark-land expect
``GraphFrame(v, e).find("(a)-[e]->(b); (b)-[e2]->(c)")`` to work. This
module implements that public API surface (the motif subset plus the
algorithm entry points) on the engine's own operators — no external
package, one Catalyst plan per motif.

Contract (same as GraphFrames): ``vertices`` has an ``id`` column;
``edges`` has ``src`` and ``dst``. Motif terms are ``(a)-[e]->(b)``
separated by ``;``; element names are optional (anonymous ``()`` / ``[]``);
``!(a)-[]->(b)`` negates — no edge from a to b (compiled to an anti-join;
named elements in a negated term must be bound by positive terms, and
negated edges cannot be named — GraphFrames' own rules).

Result columns: one struct per NAMED element — vertex structs carry the
vertex row, edge structs the edge row. Shared names across terms become
join constraints (the GraphFrames semantics).

Scale: each positive term is one equi-join (Catalyst picks
broadcast/sort-merge; AQE handles skew); negated terms are anti-joins on
(src id, dst id) pairs. Motifs with no shared name between terms produce a
cartesian plan — same as GraphFrames; keep motifs connected.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from phageclouds_graphdatabase_spark.operators import graph as G

_TERM_RE = re.compile(r"(!?)\s*\((\w*)\)\s*-\s*\[(\w*)\]\s*->\s*\((\w*)\)")


class MotifError(ValueError):
    pass


class _AMMeta(type):
    _anchors = {"src": "src", "dst": "dst", "edge": "edge", "msg": "_msg"}

    def __getattr__(cls, name: str):
        # lazy: F.col() needs an active session in classic mode, so the
        # anchors can't be class attributes evaluated at import time
        try:
            return F.col(cls._anchors[name])
        except KeyError:
            raise AttributeError(name) from None


class AggregateMessages(metaclass=_AMMeta):
    """Column anchors for :meth:`GraphFrame.aggregateMessages` (the
    GraphFrames ``AM`` helper): ``AM.src``/``AM.dst``/``AM.edge`` reference
    triplet structs in message expressions; ``AM.msg`` the delivered
    message in the aggregate."""


def _struct(df: DataFrame, alias: str):
    return F.struct(*[F.col(c) for c in df.columns]).alias(alias)


class GraphFrame:
    def __init__(self, vertices: DataFrame, edges: DataFrame):
        if "id" not in vertices.columns:
            raise MotifError("vertices need an 'id' column")
        if "src" not in edges.columns or "dst" not in edges.columns:
            raise MotifError("edges need 'src' and 'dst' columns")
        self.vertices = vertices
        self.edges = edges

    # -- motif finding ------------------------------------------------------

    def find(self, motif: str) -> DataFrame:
        terms = [t.strip() for t in motif.split(";") if t.strip()]
        if not terms:
            raise MotifError("empty motif")
        df: DataFrame | None = None
        bound: set[str] = set()
        anon = [0]
        negated: list[tuple[str, str]] = []

        def fresh() -> str:
            anon[0] += 1
            return f"__anon{anon[0]}"

        for term in terms:
            m = _TERM_RE.fullmatch(term)
            if m is None:
                raise MotifError(
                    f"bad motif term {term!r} (expected '(a)-[e]->(b)')"
                )
            neg, a, e, b = m.groups()
            if neg:
                if e:
                    raise MotifError("negated terms cannot name the edge")
                if not a or not b:
                    raise MotifError(
                        "negated terms need named endpoints bound by "
                        "positive terms"
                    )
                negated.append((a, b))
                continue
            a = a or fresh()
            e = e or fresh()
            b = b or fresh()
            if e in bound:
                raise MotifError(f"edge name {e} used twice")
            estruct = self.edges.select(_struct(self.edges, e))
            conds = []
            if a in bound:
                conds.append(F.col(e)["src"] == F.col(a)["id"])
            if b in bound:
                conds.append(F.col(e)["dst"] == F.col(b)["id"])
            if df is None:
                df = estruct
            elif conds:
                cond = conds[0]
                for c in conds[1:]:
                    cond = cond & c
                df = df.join(estruct, cond)
            else:  # disconnected term -- same cartesian semantics as
                df = df.crossJoin(estruct)  # GraphFrames; keep motifs connected
            bound.add(e)
            joined_here: set[str] = set()
            for vname, key in ((a, "src"), (b, "dst")):
                if vname not in bound:
                    vstruct = self.vertices.select(_struct(self.vertices, vname))
                    df = df.join(
                        vstruct,
                        F.col(e)[key] == F.col(vname)["id"],
                    )
                    bound.add(vname)
                    joined_here.add(vname)
                elif vname in joined_here:
                    # self-loop motif (a)-[e]->(a): the dst constraint
                    # wasn't part of the edge join -- apply it now
                    df = df.filter(F.col(e)[key] == F.col(vname)["id"])
        assert df is not None
        for a, b in negated:
            if a not in bound or b not in bound:
                raise MotifError(
                    f"negated term !({a})-[]->({b}) references unbound names"
                )
            pair = self.edges.select(
                F.col("src").alias("__nsrc"), F.col("dst").alias("__ndst")
            )
            df = df.join(
                pair,
                (F.col(a)["id"] == F.col("__nsrc"))
                & (F.col(b)["id"] == F.col("__ndst")),
                "left_anti",
            )
        named = [c for c in df.columns if not c.startswith("__anon")]
        return df.select(*named)

    # -- GraphFrames-style property accessors -------------------------------

    @property
    def degrees(self) -> DataFrame:
        return G.degrees(self.edges).select("id", "degree")

    @property
    def inDegrees(self) -> DataFrame:
        return G.degrees(self.edges).select(
            "id", F.col("in_degree").alias("inDegree")
        )

    @property
    def outDegrees(self) -> DataFrame:
        return G.degrees(self.edges).select(
            "id", F.col("out_degree").alias("outDegree")
        )

    # -- algorithms (wrappers over operators/graph.py) ----------------------

    def filterVertices(self, condition) -> "GraphFrame":
        v = self.vertices.filter(condition)
        ids = v.select("id")
        e = (
            self.edges.join(
                F.broadcast(ids), self.edges["src"] == ids["id"], "left_semi"
            ).join(F.broadcast(ids), F.col("dst") == ids["id"], "left_semi")
        )
        return GraphFrame(v, e)

    def filterEdges(self, condition) -> "GraphFrame":
        return GraphFrame(self.vertices, self.edges.filter(condition))

    def dropIsolatedVertices(self) -> "GraphFrame":
        touched = (
            self.edges.select(F.col("src").alias("id"))
            .unionByName(self.edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        return GraphFrame(self.vertices.join(touched, "id", "left_semi"), self.edges)

    def connectedComponents(self, **kw) -> DataFrame:
        return G.connected_components(
            self.edges.select("src", "dst"),
            nodes=self.vertices.select("id"),
            **kw,
        )

    def shortestPaths(self, landmarks: DataFrame, max_hops: int = 10) -> DataFrame:
        """Each vertex's hop distance TO the landmark set over directed
        edges — GraphFrames' semantics (vertex -> ... -> landmark).
        ADVICE r1 fix: BFS previously ran FROM the landmarks over
        out-edges, which computes landmark-to-vertex distances — a
        different answer on directed graphs. It now runs from the
        landmarks over REVERSED edges and flips the result back, so a
        returned row reads ``(src=vertex, dst=landmark, path
        vertex->...->landmark, hops)``. Output shape (one row per
        reachable pair, lexicographically-smallest path) remains the
        engine's documented deviation from GraphFrames' distances map."""
        rev = self.edges.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            *[c for c in self.edges.columns if c not in ("src", "dst")],
        )
        got = G.shortest_paths(landmarks, rev, max_hops, mode="one")
        return got.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            F.reverse("path").alias("path"),
            "hops",
        )

    def bfs(self, fromExpr, toExpr, maxPathLength: int = 10) -> DataFrame:
        """GraphFrames ``bfs``, output-shape compatible since round 2:
        shortest paths from vertices matching ``fromExpr`` to vertices
        matching ``toExpr``, returned with GraphFrames' exploded columns
        ``from, e0, v1, e1, ..., to`` (vertex/edge structs). Matches
        GraphFrames semantics: only the globally SHORTEST distance is
        returned (the search stops at the first level with a hit), a
        vertex matching both expressions yields the zero-length path
        (just ``from``/``to``), and no hit yields an empty ``from``/
        ``to`` frame. The raw engine shape remains available as
        ``bfs_paths`` (one row per path: src, dst, path, hops)."""
        v = self.vertices
        vstruct = F.struct(*[F.col(c) for c in v.columns])
        both = v.filter(fromExpr).filter(toExpr)
        if not both.isEmpty():
            # zero-length paths win (GraphFrames rule)
            return both.select(
                vstruct.alias("from"), vstruct.alias("to")
            )
        hits = self.bfs_paths(fromExpr, toExpr, maxPathLength)
        row = hits.agg(F.min("hops").alias("k")).collect()[0]
        if row.k is None:
            empty = v.filter(F.lit(False))
            return empty.select(vstruct.alias("from"), vstruct.alias("to"))
        k = int(row.k)
        out = hits.filter(F.col("hops") == k)
        names = []
        for i in range(k + 1):
            name = "from" if i == 0 else ("to" if i == k else f"v{i}")
            side = v.select(
                vstruct.alias(name), F.col("id").alias(f"__vid{i}")
            )
            out = out.join(
                side, F.element_at("path", i + 1) == F.col(f"__vid{i}")
            )
            names.append(name)
        e = self.edges
        estruct = F.struct(*[F.col(c) for c in e.columns])
        for i in range(k):
            side = e.select(
                estruct.alias(f"e{i}"),
                F.col("src").alias(f"__es{i}"),
                F.col("dst").alias(f"__ed{i}"),
            )
            out = out.join(
                side,
                (F.element_at("path", i + 1) == F.col(f"__es{i}"))
                & (F.element_at("path", i + 2) == F.col(f"__ed{i}")),
            )
        ordered = [names[0]]
        for i in range(k):
            ordered.extend([f"e{i}", names[i + 1]])
        return out.select(*ordered)

    def bfs_paths(self, fromExpr, toExpr, maxPathLength: int = 10) -> DataFrame:
        """The engine-native bfs shape: one row per shortest path per
        (from, to) pair — ``(src, dst, path array, hops)``."""
        seeds = self.vertices.filter(fromExpr).select("id")
        paths = G.shortest_paths(
            seeds, self.edges, maxPathLength, mode="all"
        )
        targets = self.vertices.filter(toExpr).select("id")
        return paths.join(
            F.broadcast(targets), paths["dst"] == targets["id"], "left_semi"
        )

    def aggregateMessages(
        self, aggCol, sendToSrc=None, sendToDst=None
    ) -> DataFrame:
        """GraphFrames ``aggregateMessages``: evaluate message expressions
        over each edge triplet (``AM.src``/``AM.dst``/``AM.edge`` structs),
        send to the edge's src and/or dst, aggregate per receiving vertex
        with ``aggCol`` (which references ``AM.msg``). One plan: two
        vertex joins build the triplets, a union fans out the messages,
        and the groupBy aggregates with map-side partials — the Pregel
        superstep primitive, Catalyst-planned."""
        if sendToSrc is None and sendToDst is None:
            raise MotifError("provide sendToSrc and/or sendToDst")
        v = self.vertices
        trip = (
            self.edges.select(_struct(self.edges, "edge"))
            .join(
                v.select(_struct(v, "src")),
                F.col("edge")["src"] == F.col("src")["id"],
            )
            .join(
                v.select(_struct(v, "dst")),
                F.col("edge")["dst"] == F.col("dst")["id"],
            )
        )
        parts = []
        if sendToSrc is not None:
            parts.append(
                trip.select(
                    F.col("src")["id"].alias("id"), sendToSrc.alias("_msg")
                )
            )
        if sendToDst is not None:
            parts.append(
                trip.select(
                    F.col("dst")["id"].alias("id"), sendToDst.alias("_msg")
                )
            )
        msgs = parts[0]
        for p in parts[1:]:
            msgs = msgs.unionByName(p)
        return msgs.groupBy("id").agg(aggCol)

    def labelPropagation(self, maxIter: int) -> DataFrame:
        """Community detection by synchronous label propagation with a
        deterministic tie-break: each round every vertex adopts the most
        frequent label among its (undirected) neighbors, ties broken by
        the smallest label — so the result is reproducible across runs
        and cluster layouts (GraphFrames' async variant is not).
        Returns (id, label)."""
        und = self.edges.select("src", "dst").unionByName(
            self.edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        labels = self.vertices.select(
            "id", F.col("id").alias("label")
        ).localCheckpoint()
        from pyspark.sql.window import Window

        lazy = maxIter <= G.ITER_LAZY
        for _ in range(maxIter):
            nb = und.join(
                labels.withColumnRenamed("id", "__nid"),
                und["dst"] == F.col("__nid"),
            ).select(F.col("src").alias("id"), "label")
            counts = nb.groupBy("id", "label").agg(
                F.count(F.lit(1)).alias("n")
            )
            w = Window.partitionBy("id").orderBy(
                F.col("n").desc(), F.col("label").asc()
            )
            winners = (
                counts.withColumn("__rk", F.row_number().over(w))
                .filter(F.col("__rk") == 1)
                .select("id", "label")
            )
            # vertices with no neighbors keep their label
            labels = labels.join(
                winners.withColumnRenamed("label", "__wl"), "id", "left_outer"
            ).select("id", F.coalesce("__wl", "label").alias("label"))
            if not lazy:
                labels = G._ckpt(labels)
        return labels
