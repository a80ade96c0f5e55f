"""The calls each op makes into the program, one function per workload.

Each function runs inside the op's timed region and returns ``(answer,
write_s)``: what the op produced, in the raw form the harness digests after
the clock stops, and the seconds its write step took (the HTML render of a
cloud op, the whole of a Cypher write op; None for other ops). Spans name
the layer each call enters. Graph ops persist their result with
``sinks.write_parquet`` (GDS "write" mode); the span around the operator
call includes that write, which is the action that runs the plan.
"""

from __future__ import annotations

import os
import time

from phageclouds_graphdatabase_spark.cypher import CypherEngine, parse, phage_catalog
from phageclouds_graphdatabase_spark.operators import graph as G
from phageclouds_graphdatabase_spark.plans import clouds
from phageclouds_graphdatabase_spark.sources import readers, sinks

import workloads


class Program:
    def __init__(self, spark, graph_dir: str, work: str, tracer):
        self.spark = spark
        self.g = graph_dir
        self.work = work
        self.tr = tracer

    def _path(self, name: str) -> str:
        return os.path.join(self.g, name)

    def clouds(self, spec: dict):
        span, sp = self.tr.span, self.spark
        with span("readers.open_s"):
            nodes = readers.read_phage_nodes(sp, self._path("nodes"))
            edges = readers.read_shares_dna(sp, self._path("edges"))
            if spec["kind"] == "family":
                lineages = readers.read_lineages_csv(sp, self._path("lineages.csv"))
            elif spec["kind"] == "host":
                infects = readers.read_infects(sp, self._path("infects"))
        with span("clouds.build_s"):
            if spec["kind"] == "taxon":
                res = clouds.clouds_by_taxon(nodes, edges, spec["name"], spec["t"])
            elif spec["kind"] == "family":
                res = clouds.clouds_by_family(nodes, edges, lineages, spec["name"],
                                              spec["rank"], spec["t"])
            else:
                res = clouds.clouds_by_host(nodes, edges, infects, spec["name"],
                                            spec["t"], harsh=spec["harsh"])
        path = workloads.out_path(self.work, spec) + ".html"
        t0 = time.perf_counter()
        with span("sinks.write_vis_html_s"):
            sinks.write_vis_html(res.nodes, res.edges, path)
        return path, time.perf_counter() - t0

    def _engine(self) -> CypherEngine:
        sp = self.spark
        with self.tr.span("readers.open_s"):
            nodes = readers.read_phage_nodes(sp, self._path("nodes"))
            edges = readers.read_shares_dna(sp, self._path("edges"))
            infects = readers.read_infects(sp, self._path("infects"))
            return CypherEngine(phage_catalog(nodes, edges, infects), sp)

    def cypher(self, spec: dict, text: str, params: dict,
               verify: tuple[str, dict] | None = None):
        span = self.tr.span
        t0 = time.perf_counter()
        eng = self._engine()
        if spec["kind"] == "read":
            with span("cypher.parse_s"):
                ast = parse(text)
            with span("cypher.compile_s"):
                df = eng.compile(ast, params)
            with span("cypher.execute_s"):
                rows = df.collect()
            return [tuple(r) for r in rows], None
        with span("cypher.apply_s"):
            catalog = eng.apply(text, params)
        with span("cypher.verify_read_s"):
            rows = CypherEngine(catalog, self.spark).run(*verify).collect()
        return [tuple(r) for r in rows], time.perf_counter() - t0

    def graph(self, spec: dict):
        with self.tr.span("readers.open_s"):
            edges = readers.read_shares_dna(self.spark, self._path("edges"))
            edges = edges.filter(edges["distance"] <= spec["t"])
        path = workloads.out_path(self.work, spec)
        with self.tr.span(f"graph.{spec['op']}_s"):
            if spec["op"] == "components":
                kw = {k: spec[k] for k in ("local_threshold",) if k in spec}
                res = G.connected_components(edges, **kw)
            elif spec["op"] == "core":
                res = G.core_decomposition(edges)
            elif spec["op"] == "pagerank":
                res = G.pagerank_scaled(edges)
            else:
                res = G.degrees(edges)
            sinks.write_parquet(res, path)
        return path, None
