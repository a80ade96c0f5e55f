"""Sinks (SURVEY.md §2.1 S6-S7): vis.js HTML network + columnar writers.

The HTML sink emits the same ``vis.DataSet`` JSON structure as the
reference's pyvis output (/root/reference/phageclouds_gdb.py:102-120) from a
self-contained template (no pyvis dependency in this runtime), with
deterministic key order so goldens diff byte-stably. ``toPandas()`` happens
only here -- the one sanctioned driver-side materialization (SURVEY.md §1.2).
It is one Spark query per cloud: nodes and edges come back as one tagged
union, so the cloud's lazy node set (`plans/clouds.py`) is computed once,
inside that query, not once per side.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_TEMPLATE = """<html>
<head>
<link rel="stylesheet" href="https://cdnjs.cloudflare.com/ajax/libs/vis/4.16.1/vis.css" type="text/css" />
<script type="text/javascript" src="https://cdnjs.cloudflare.com/ajax/libs/vis/4.16.1/vis-network.min.js"> </script>
</head>
<body>
<div id="mynetwork"></div>
<script type="text/javascript">
    var nodes = new vis.DataSet(%(nodes)s);
    var edges = new vis.DataSet(%(edges)s);
    var container = document.getElementById("mynetwork");
    var data = {nodes: nodes, edges: edges};
    var options = %(options)s;
    var network = new vis.Network(container, data, options);
</script>
</body>
</html>
"""

_DEFAULT_OPTIONS = {
    "height": "1500px",
    "width": "1500px",
    "physics": {"solver": "forceAtlas2Based"},
}


def _collect_both(nodes: DataFrame, edges: DataFrame):
    """Both frames' rows in one Spark query: a union tagged `_k` (0 nodes,
    1 edges) of one struct column per side, the other side's struct null.
    Each side keeps the row order of its own `collect()`: the union's
    partitions are its children's, in order. In one query AQE reuses the
    cloud's node-set stages, which two queries would each recompute."""
    n_type = StructType(nodes.schema.fields)
    e_type = StructType(edges.schema.fields)
    tagged = nodes.select(
        F.lit(0).alias("_k"),
        F.struct(*nodes.columns).alias("n"),
        F.lit(None).cast(e_type).alias("e"),
    ).unionByName(
        edges.select(
            F.lit(1).alias("_k"),
            F.lit(None).cast(n_type).alias("n"),
            F.struct(*edges.columns).alias("e"),
        )
    )
    pdf = tagged.toPandas()
    is_node = pdf["_k"] == 0
    return pdf["n"][is_node], pdf["e"][~is_node]


def cloud_to_vis_dicts(nodes: DataFrame, edges: DataFrame) -> tuple[list[dict], list[dict]]:
    """Render CloudResult frames to vis.DataSet dicts (pyvis-compatible
    node/edge attribute structure), collecting both in one Spark query.
    A row is a dict (Arrow) or a `Row` (no Arrow); both index by name."""
    node_rows, edge_rows = _collect_both(nodes, edges)
    has_title = "title" in nodes.columns
    vis_nodes = []
    for row in node_rows:
        n = {
            "color": {"background": row["color_background"], "border": row["color_border"]},
            "id": row["id"],
            "label": row["id"],
            "shape": "dot",
            "size": int(row["size"]),
        }
        if has_title and row["title"] is not None:
            n["title"] = row["title"]
        vis_nodes.append(n)
    vis_edges = []
    for row in edge_rows:
        vis_edges.append(
            {
                "color": row["color"],
                "from": row["src"],
                "to": row["dst"],
                "value": float(row["value"]),
                "weight": float(row["weight"]),
            }
        )
    return vis_nodes, vis_edges


def write_vis_html(nodes: DataFrame, edges: DataFrame, path: str, options: dict | None = None) -> str:
    """Write the interactive network HTML (S6). Filename conventions are the
    caller's business (the reference slugs the threshold into the name,
    /root/reference/phageclouds_gdb.py:120)."""
    vis_nodes, vis_edges = cloud_to_vis_dicts(nodes, edges)
    html = _TEMPLATE % {
        "nodes": json.dumps(vis_nodes, sort_keys=True),
        "edges": json.dumps(vis_edges, sort_keys=True),
        "options": json.dumps(options or _DEFAULT_OPTIONS, sort_keys=True),
    }
    with open(path, "w") as f:
        f.write(html)
    return path


def threshold_slug(threshold: float) -> str:
    """'0.25' -> '025' (/root/reference/phageclouds_gdb.py:120)."""
    return "".join(str(threshold).split("."))


def write_edges_at_rest(edges: DataFrame, path: str, num_files: int | None = None) -> None:
    """Write the sharesDNA edge table in its 100 TB at-rest layout
    (SCALE.md "data layout"): range-partitioned AND sorted by ``distance``,
    so each file (and each row group inside it) covers a tight, disjoint
    distance interval -- every ``distance <= t`` cloud query then skips all
    files/row-groups whose min exceeds t via Parquet min/max stats, reading
    only the qualifying fraction of the table. (The reference has no at-rest
    layout to tune: Neo4j stores edges row-wise, phageclouds_gdb.py:56.)"""
    w = edges
    if num_files is not None:
        w = w.repartitionByRange(num_files, "distance")
    else:
        w = w.repartitionByRange("distance")
    w.sortWithinPartitions("distance").write.mode("overwrite").parquet(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S7 columnar sink. At the 100 TB tier pass partition_by (e.g. distance
    band or bucket(src)) so downstream scans partition-prune."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", True).csv(path)


def write_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def write_neo4j_admin_csv(
    nodes: DataFrame,
    edges: DataFrame,
    out_dir: str,
    label: str = "PhageGenome",
    rel_type: str = "sharesDNA",
    id_col: str = "accession",
    src_col: str = "src",
    dst_col: str = "dst",
) -> None:
    """Export the property graph in `neo4j-admin database import` bulk
    layout — the interop path BACK into the reference's own store
    (`/root/reference/phageclouds_gdb.py` reads a Neo4j database of
    :PhageGenome nodes and :sharesDNA relationships; this writes the CSV
    layout its official bulk importer ingests).

    Layout: ``nodes/`` CSV part-files with an ``<id>:ID`` header column and
    a constant ``:LABEL``; ``relationships/`` part-files with
    ``:START_ID`` / ``:END_ID`` / ``:TYPE``. Headers ride in every part
    file (Spark CSV header option) — neo4j-admin accepts per-file headers
    when globbing parts. Fully distributed: a plain CSV write per side,
    no driver materialization, so a 100 TB graph exports as fast as the
    cluster writes CSV."""
    n = nodes.select(
        F.col(id_col).alias(f"{id_col}:ID"),
        *[c for c in nodes.columns if c != id_col],
        F.lit(label).alias(":LABEL"),
    )
    e = edges.select(
        F.col(src_col).alias(":START_ID"),
        *[c for c in edges.columns if c not in (src_col, dst_col)],
        F.col(dst_col).alias(":END_ID"),
        F.lit(rel_type).alias(":TYPE"),
    )
    n.write.mode("overwrite").option("header", True).csv(out_dir + "/nodes")
    e.write.mode("overwrite").option("header", True).csv(
        out_dir + "/relationships"
    )
