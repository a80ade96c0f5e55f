"""Pregel builder — the GraphFrames ``graphframes.lib.Pregel`` API shape on
this engine's DataFrames.

Bulk-synchronous vertex programs: per superstep, message expressions are
evaluated over edge triplets (``Pregel.src/dst/edge`` anchors), delivered
messages aggregate per vertex (``aggMsgs``), and each registered vertex
column updates from its old value plus ``Pregel.msg()``. Everything is one
Catalyst plan per superstep; rounds checkpoint (``operators.graph._ckpt``)
on the configured interval to keep lineage flat (the iterative-Spark
failure mode).

Usage (2-iteration integer PageRank, the operators/graph.py twin)::

    ranks = (
        Pregel(g)
        .setMaxIter(2)
        .withVertexColumn(
            "pr",
            F.lit(1_000_000).cast("long"),
            (F.lit(150_000)
             + (F.lit(85) * F.coalesce(Pregel.msg(), F.lit(0)))
             .cast("long") / 100).cast("long"),
        )
        .sendMsgToDst(Pregel.src("pr") / Pregel.src("od"))
        .aggMsgs(F.sum(Pregel.msg()))
        .run()
    )

Scale: each superstep is two equi-joins (triplets), a union fan-out, one
map-side-combined aggregation, and a left-outer join back to the vertex
table — shuffle volume tracks edges + vertices, state is the vertex table
only. Null messages are dropped before aggregation (GraphFrames
semantics)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from phageclouds_graphdatabase_spark.operators.graph import _ckpt

_MSG = "_pregel_msg_"


class Pregel:
    def __init__(self, graph):
        self._g = graph
        self._max_iter = 10
        self._ckpt_interval = 2
        self._vcols: list[tuple[str, Column, Column]] = []
        self._to_dst: list[Column] = []
        self._to_src: list[Column] = []
        self._agg: Column | None = None

    # -- static column anchors (the GraphFrames API) ------------------------

    @staticmethod
    def msg() -> Column:
        return F.col(_MSG)

    @staticmethod
    def src(col_name: str) -> Column:
        return F.col("src")[col_name]

    @staticmethod
    def dst(col_name: str) -> Column:
        return F.col("dst")[col_name]

    @staticmethod
    def edge(col_name: str) -> Column:
        return F.col("edge")[col_name]

    # -- builder ------------------------------------------------------------

    def setMaxIter(self, n: int) -> "Pregel":
        self._max_iter = n
        return self

    def setCheckpointInterval(self, n: int) -> "Pregel":
        self._ckpt_interval = n
        return self

    def withVertexColumn(
        self, name: str, initial: Column, update: Column
    ) -> "Pregel":
        """Register a vertex state column: ``initial`` seeds it;
        ``update`` recomputes it each superstep from the OLD vertex row
        plus ``Pregel.msg()`` (NULL when no message arrived)."""
        self._vcols.append((name, initial, update))
        return self

    def sendMsgToDst(self, expr: Column) -> "Pregel":
        self._to_dst.append(expr)
        return self

    def sendMsgToSrc(self, expr: Column) -> "Pregel":
        self._to_src.append(expr)
        return self

    def aggMsgs(self, agg: Column) -> "Pregel":
        self._agg = agg
        return self

    # -- execution ----------------------------------------------------------

    def run(self) -> DataFrame:
        if not self._vcols:
            raise ValueError("register at least one withVertexColumn")
        if not (self._to_dst or self._to_src):
            raise ValueError("register sendMsgToDst and/or sendMsgToSrc")
        if self._agg is None:
            raise ValueError("register aggMsgs")
        base_cols = self._g.vertices.columns
        v = self._g.vertices.select(
            "*", *[init.alias(n) for n, init, _ in self._vcols]
        ).localCheckpoint()
        edges = self._g.edges

        def _vstruct(alias: str) -> Column:
            return F.struct(*[F.col(c) for c in v.columns]).alias(alias)

        for i in range(1, self._max_iter + 1):
            trip = (
                edges.select(
                    F.struct(*[F.col(c) for c in edges.columns]).alias("edge")
                )
                .join(
                    v.select(_vstruct("src")),
                    F.col("edge")["src"] == F.col("src")["id"],
                )
                .join(
                    v.select(_vstruct("dst")),
                    F.col("edge")["dst"] == F.col("dst")["id"],
                )
            )
            parts = [
                trip.select(F.col("dst")["id"].alias("id"), e.alias(_MSG))
                for e in self._to_dst
            ] + [
                trip.select(F.col("src")["id"].alias("id"), e.alias(_MSG))
                for e in self._to_src
            ]
            msgs = parts[0]
            for p in parts[1:]:
                msgs = msgs.unionByName(p)
            inbox = (
                msgs.filter(F.col(_MSG).isNotNull())
                .groupBy("id")
                .agg(self._agg.alias(_MSG))
            )
            v = v.join(inbox, "id", "left_outer").select(
                *base_cols,
                *[upd.alias(n) for n, _, upd in self._vcols],
            )
            if i % self._ckpt_interval == 0 or i == self._max_iter:
                v = _ckpt(v)
        return v
