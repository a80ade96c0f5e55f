"""The three cloud-extraction entry points (SURVEY.md §3 E1-E3), each a
single Catalyst plan replacing the reference's 2-3 Neo4j round-trips plus
driver-side pandas post-processing.

The reference's three scripts differ only in their seed predicate and their
attribute/colour step, so the entry points share one skeleton (`_cloud`):
seed frame -> 1-hop expand over `distance <= t` -> induced subgraph ->
members' attribute function -> presentation columns. Each entry point
supplies only its seed frame and its attribute function.

The node set stays a lazy frame: it is neither cached nor collected, so an
op leaves no persisted state behind and makes no extra round trip to the
driver. Its three consumers (the induced-subgraph and members semi-joins)
all run inside the sink's single query (`sinks.cloud_to_vis_dicts`), where
AQE reuses its stages at runtime, so it is computed once per op (the
reference instead re-ships it as a Python list literal inside each Cypher
string, `phageclouds_gdb.py:65-71`).

Golden-parity quirks reproduced on purpose:
- expand is DIRECTED-only: edges are stored once per unordered pair and all
  reference matches are `-[r]->` (SURVEY.md §1.1). For correct semantics
  (neighbours along either stored direction) use `G.expand` in its
  both-ways mode;
- taxon and host seeds enter the node set only through a qualifying
  out-edge (non-optional MATCH); family keeps edgeless seeds (OPTIONAL
  MATCH, J4);
- host 'harsh' filters source on endpoint *a* only, so excluded-source
  phages still enter as edge targets
  (/root/reference/phageclouds_gdb_host.py:57);
- host attribute join takes ANY host of each phage (left outer,
  row-multiplying, then per-key dedup pinned to max(host_genus)), not the
  queried one (reference `phageclouds_gdb_host.py:61-62`).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from phageclouds_graphdatabase_spark.functions import derive
from phageclouds_graphdatabase_spark.operators import graph as G


@dataclass
class CloudResult:
    """Presentation-ready cloud graph: `nodes` carry pyvis-compatible
    columns (id, size, color_background, color_border, title), `edges` carry
    (src, dst, weight, value, color)."""

    nodes: DataFrame
    edges: DataFrame
    threshold: float


def _present_edges(
    edges: DataFrame, threshold: float, with_title: bool = False
) -> DataFrame:
    """Edge presentation columns (V4): value = t - distance + 0.1, gray
    color (/root/reference/phageclouds_gdb.py:112-116). The host/family
    scripts additionally set the hover title to the raw weight
    (goldens embed it); the taxon script does not."""
    cols = [
        F.col("src"),
        F.col("dst"),
        F.col("distance").alias("weight"),
        derive.edge_value(F.col("distance"), threshold).alias("value"),
        F.lit("lightgray").alias("color"),
    ]
    if with_title:
        cols.append(F.col("distance").alias("title"))
    return edges.select(*cols)


def _cloud(
    kind: str,
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    threshold: float,
    attrs: Callable[[DataFrame], DataFrame],
) -> CloudResult:
    """The shared skeleton of the `kind` ('taxon', 'family' or 'host')
    cloud. `seeds` has one column `id`. `attrs` maps the members (the node
    rows of the node set, `accession` renamed to `id`) to `id, source,
    genome_size, <the kind's columns>, color_background, title`; `size`
    and `color_border` are added here, in that order."""
    qual = edges.filter(F.col("distance") <= F.lit(threshold))
    hit = qual.join(G.maybe_broadcast(seeds), qual["src"] == seeds["id"], "left_semi")
    # One reference to `hit` per node-set use: the lazy node set appears in
    # each of its three consumers below, and the sink's one query computes
    # it once.
    if kind == "family":
        ids = seeds.unionByName(hit.select(F.col("dst").alias("id")))
    else:
        ids = hit.select(F.explode(F.array("src", "dst")).alias("id"))
    node_set = ids.distinct()

    induced = G.induced_subgraph(node_set, qual)

    members = nodes.join(
        node_set, nodes["accession"] == node_set["id"], "left_semi"
    ).withColumnRenamed("accession", "id")
    out = attrs(members)
    head = [c for c in out.columns if c not in ("color_background", "title")]
    out = out.select(
        *head,
        derive.node_size(F.col("genome_size")).alias("size"),
        "color_background",
        F.lit("#000000").alias("color_border"),
        "title",
    )
    edges_out = _present_edges(induced, threshold, with_title=kind != "taxon")
    return CloudResult(out, edges_out, threshold)


def _ncbi_seeds(nodes: DataFrame, name: str) -> DataFrame:
    pred = (F.col("source") == "NCBI") & F.col("taxonomy").contains(name)
    return nodes.filter(pred).select(F.col("accession").alias("id"))


def clouds_by_taxon(
    nodes: DataFrame,
    edges: DataFrame,
    taxon: str,
    threshold: float = 0.25,
) -> CloudResult:
    """E1 -- `phageclouds_gdb.py -t <taxon> -d <dist>`
    (/root/reference/phageclouds_gdb.py:44-120).

    Seeds: NCBI phages whose taxonomy contains `taxon`. Q1 is a
    non-optional MATCH, so a seed enters the node set only with a
    qualifying out-edge (reference `phageclouds_gdb.py:56-62`).
    """
    flag = f"Phage_is_{taxon}"

    def attrs(m: DataFrame) -> DataFrame:
        is_taxon = F.col("taxonomy").contains(taxon)
        return m.select(
            "id",
            "source",
            "genome_size",
            is_taxon.alias(flag),
            derive.taxon_color(F.col("source"), is_taxon).alias("color_background"),
            F.lit(None).cast("string").alias("title"),
        )

    return _cloud("taxon", nodes, edges, _ncbi_seeds(nodes, taxon), threshold, attrs)


def clouds_by_family(
    nodes: DataFrame,
    edges: DataFrame,
    lineages: DataFrame,
    family: str,
    rank: str,
    threshold: float = 0.15,
) -> CloudResult:
    """E2 -- `phageclouds_gdb_family.py -f <family> -t <genus|subfamily>`
    (/root/reference/phageclouds_gdb_family.py:80-123).

    OPTIONAL MATCH expand: family members are kept even with no qualifying
    edge (J4). Colors come from a broadcast (taxon -> hex) palette table
    derived from the lineages dim -- replacing the per-row ete3-sqlite +
    colormap work of color_phage_tax (:47-66); rank extraction (V5) is a
    lineages join instead of per-row ete3 get_lineage (:68-76).
    """
    palette = derive.taxon_palette(lineages, family, rank)

    def attrs(m: DataFrame) -> DataFrame:
        # First-substring-match against the lineage, in palette order:
        # non-equi broadcast join + min-index window (the palette is tiny).
        matched = (
            m.join(
                F.broadcast(palette),
                F.col("taxonomy").contains(F.col("taxon")) & (F.col("source") == "NCBI"),
                "left_outer",
            )
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("id").orderBy(F.col("palette_idx").asc_nulls_last())
                ),
            )
            .filter(F.col("rn") == 1)
        )
        ranked = matched.join(
            lineages.select(F.col("accession").alias("id"), F.col(rank).alias("target_taxon")),
            "id",
            "left_outer",
        ).withColumn(
            "target_taxon",
            F.when(F.col("target_taxon") == "", None).otherwise(F.col("target_taxon")),
        )
        return ranked.select(
            "id",
            "source",
            "genome_size",
            "target_taxon",
            F.when(F.col("source") != "NCBI", "#FFFFFF")
            .otherwise(F.coalesce(F.col("hex"), F.lit("#000000")))
            .alias("color_background"),
            derive.family_title(
                F.col("source"), F.col("genome_size"), rank, F.col("target_taxon")
            ).alias("title"),
        )

    return _cloud("family", nodes, edges, _ncbi_seeds(nodes, family), threshold, attrs)


def clouds_by_host(
    nodes: DataFrame,
    edges: DataFrame,
    infects: DataFrame,
    host_genus: str,
    threshold: float = 0.25,
    harsh: bool = False,
) -> CloudResult:
    """E3 -- `phageclouds_gdb_host.py -g <genus> [-t <dist>] [--harsh]`
    (/root/reference/phageclouds_gdb_host.py:44-92).

    Seeds: phages with an `infects` edge to the host genus (existential
    semi-join P8) AND at least one qualifying out-edge; `harsh` additionally
    excludes GTDB_predicted_prophages -- on endpoint a ONLY (the golden-
    preserved quirk: GTDB phages still enter as targets). The attribute join
    picks ANY host per phage (left-outer then deterministic last-write-wins;
    the reference's dict-update order is nondeterministic, the engine pins
    max(host_genus)).
    """
    hosted = nodes.join(
        infects.filter(F.col("host_genus") == host_genus),
        nodes["accession"] == infects["src"],
        "left_semi",
    )
    if harsh:
        hosted = hosted.filter(F.col("source") != "GTDB_predicted_prophages")
    seeds = hosted.select(F.col("accession").alias("id"))

    def attrs(m: DataFrame) -> DataFrame:
        # J5 optional any-host attribute join, row-multiplying, then A4
        # last-write-wins dedup pinned to a deterministic order.
        with_host = (
            m.join(infects, m["id"] == infects["src"], "left_outer")
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("id").orderBy(F.col("host_genus").desc_nulls_last())
                ),
            )
            .filter(F.col("rn") == 1)
        )
        return with_host.select(
            "id",
            "source",
            "genome_size",
            F.col("genus").alias("phage_genus"),
            F.col("host_genus").alias("host"),
            derive.source_hex_color(F.col("source")).alias("color_background"),
            derive.host_title(
                F.col("host_genus"), F.col("genus"), F.col("genome_size")
            ).alias("title"),
        )

    return _cloud("host", nodes, edges, seeds, threshold, attrs)
