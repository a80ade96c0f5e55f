"""The benchmark's workloads: op sequences drawn from a seed, the calls each
op makes into the program, and the digest of each op's answer.

Every op is a closed-loop request from one client. ``make_specs`` returns the
fixed op sequence for a seed: a warm-up prefix, blocks of timed ops that
repeat the same slots, and ops only the traced run makes; a run times a whole number of
blocks (``n_blocks``).
``ops.Program`` makes the op's public calls into the package (inside the
timed region); the digests here turn what it produced into the comparable
answer outside the timed region.

Why these two workloads (see README.md): ``clouds_interactive`` is the
paper's own traffic and exercises readers, clouds, derive and sinks, and
never Cypher or the iterative operators; ``cypher_analytics`` is the only
one that parses, compiles and runs the copy-on-write write path, and the
only one where the iterative graph operators run.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np

THRESHOLDS = (0.1, 0.15, 0.25)
WORKLOADS = ("clouds_interactive", "cypher_analytics")

# --------------------------------------------------------------------------
# answer digests (shared by the program side and the oracle side)
# --------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(sorted(_norm(x) for x in v))
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.bool_,)):
        return bool(v)
    return v


def rows_digest(rows) -> dict:
    """Order-insensitive answer digest: row count plus a hash of the sorted,
    normalised rows (lists compare as multisets, floats by exact repr)."""
    norm = sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)
    h = hashlib.sha1(repr(norm).encode()).hexdigest()[:16]
    return {"rows": len(norm), "hash": h}


def cloud_digest(node_rows, edge_rows) -> dict:
    n = rows_digest(node_rows)
    e = rows_digest(edge_rows)
    return {"nodes": n["rows"], "edges": e["rows"], "hash": n["hash"] + e["hash"]}


_DATASET = re.compile(r"var (nodes|edges) = new vis\.DataSet\((.*)\);")


def digest_html(path: str, with_color: bool) -> tuple[dict, int]:
    """Parse the vis.js HTML the sink wrote; return (digest, rows in it)."""
    with open(path) as f:
        found = dict(m.groups() for m in _DATASET.finditer(f.read()))
    nodes = json.loads(found["nodes"])
    edges = json.loads(found["edges"])
    nrows = [
        (n["id"], n["size"]) + ((n["color"]["background"],) if with_color else ())
        for n in nodes
    ]
    erows = [(e["from"], e["to"], e["weight"]) for e in edges]
    return cloud_digest(nrows, erows), len(nodes) + len(edges)


# --------------------------------------------------------------------------
# op sequences
# --------------------------------------------------------------------------


class Picker:
    """Deterministic parameter choices by position. Every structural size in
    the generated graph is a function of an index, not of the seed (see
    gen.py), so picking by index gives the n-th op of a workload the same
    cost for every seed; the seed still decides names and members."""

    IN_LIST = (1000, 50, 500, 250)
    WRITE_ROWS = (20, 60, 100)

    def __init__(self, meta: dict, rng: np.random.Generator):
        self.meta = meta
        self.rng = rng
        self.seen: dict[str, int] = {}
        self.genera = [g for g, size in meta["genera"] if 20 <= size <= 1200]
        self.families = [f for f, _ in meta["families"]]
        self.hosts = meta["hosts"][: max(4, len(meta["hosts"]) // 3)]

    def nth(self, kind: str) -> int:
        j = self.seen.get(kind, 0)
        self.seen[kind] = j + 1
        return j

    def genus(self) -> str:
        return self.genera[(self.nth("genus") * 7) % len(self.genera)]

    def family(self) -> str:
        return self.families[(self.nth("family") * 5) % len(self.families)]

    def host(self) -> str:
        return self.hosts[(self.nth("host") * 3 + 1) % len(self.hosts)]

    def threshold(self) -> float:
        return THRESHOLDS[self.nth("t") % len(THRESHOLDS)]

    def cluster_ids(self, want: int) -> list[str]:
        """Whole near-clique clusters until ``want`` accessions: an IN-list
        whose induced edges are dense, as a cloud's node set is."""
        clusters = self.meta["clusters"]
        out: list[str] = []
        for j in self.rng.permutation(len(clusters)):
            out.extend(clusters[j])
            if len(out) >= want:
                break
        return out[:want]

    def in_list(self) -> list[str]:
        return self.cluster_ids(self.IN_LIST[self.nth("in_list") % len(self.IN_LIST)])

    def seed_accession(self) -> str:
        big = [c for c in self.meta["clusters"] if len(c) >= 12]
        return str(self.rng.choice(big[self.rng.integers(len(big))]))


READ_TEMPLATES = (
    "taxon_seed_expand", "induced_in_list", "family_collect",
    "varlen_from_seed", "host_collect", "agg_by_source", "node_attrs_in_list",
    "topk_neighbours", "host_attrs_in_list", "optional_hosts",
    "family_attrs_in_list",
)
WRITE_TEMPLATES = ("set_prop", "create_edges", "merge_nodes", "create_nodes",
                   "detach_delete")


def _read_spec(tpl: str, pick: Picker) -> dict:
    spec = {"kind": "read", "tpl": tpl, "t": pick.threshold()}
    if tpl in ("taxon_seed_expand", "node_attrs_in_list", "optional_hosts"):
        spec["name"] = pick.genus()
    elif tpl == "family_collect":
        spec["name"] = pick.family()
    elif tpl == "host_collect":
        spec["name"] = pick.host()
        spec["harsh"] = pick.nth("harsh") % 2 == 1
    elif tpl == "agg_by_source":
        spec["min_size"] = 20_000 + 30_000 * (pick.nth("min_size") % 4)
    elif tpl in ("varlen_from_seed", "topk_neighbours"):
        spec["acc"] = pick.seed_accession()
    if tpl.endswith("in_list"):
        spec["ids"] = pick.in_list()
    return spec


def _write_spec(tpl: str, pick: Picker, i: int) -> dict:
    k = pick.WRITE_ROWS[pick.nth("write_rows") % len(pick.WRITE_ROWS)]
    rng = pick.rng
    spec = {"kind": "write", "tpl": tpl}
    ids = pick.cluster_ids(2 * k)
    if tpl == "create_nodes":
        spec["rows"] = [{"acc": f"ZZ{i:04d}{j:04d}", "src": "Tara",
                         "gs": int(rng.integers(12_000, 372_000))} for j in range(k)]
    elif tpl == "create_edges":
        spec["rows"] = [{"a": ids[j], "b": ids[j + k],
                         "d": round(float(rng.uniform(0.3, 0.9)), 6)}
                        for j in range(k)]
    elif tpl == "merge_nodes":
        half = k // 2
        spec["rows"] = [{"acc": a, "gs": int(rng.integers(12_000, 372_000))}
                        for a in ids[:half]] + \
                       [{"acc": f"ZM{i:04d}{j:04d}", "gs": int(rng.integers(12_000, 372_000))}
                        for j in range(k - half)]
    elif tpl == "set_prop":
        spec["name"] = pick.genus()
    elif tpl == "detach_delete":
        spec["ids"] = ids[: max(5, k // 4)]
    return spec


# Op slots. Clouds: taxon, host (non-harsh / harsh), family at genus /
# subfamily rank. Cypher: a read or a write (the next template in turn).
# Graph: pagerank_scaled, degrees, connected_components on the driver-local
# side of its cutover (default local_threshold) and on the distributed side
# (local_threshold=0: the iterative loop with its per-round checkpoints),
# core_decomposition.
GRAPH_SLOTS = {
    "P": {"op": "pagerank", "t": 0.15},
    "E": {"op": "degrees", "t": 0.25},
    "L": {"op": "components", "t": 0.1},
    "D": {"op": "components", "t": 0.1, "local_threshold": 0},
    "K": {"op": "core", "t": 0.1},
}
# (warm-up prefix, timed block, traced-only ops) per workload. A run times
# a whole number of blocks, fixed by ``--seconds``, so every run holds the
# same ops and every block the same op kinds (the templates go on in turn).
# clouds_interactive: 2 taxon, 4 host, 3 family per block (the goldens'
# 2:3:4 mix). cypher_analytics: 7 reads and 3 writes (the 70/30 Cypher
# mix) and 4 whole-graph ops; with 10 Cypher ops of 14, p50_s falls among
# the reads and writes. core_decomposition (~6 s warm, ~9 s for its
# first call in a JVM) runs in the traced run only, after a warm-up call.
PLANS = {
    "clouds_interactive": ("THF", "THFhTfHFh", ""),
    "cypher_analytics": ("RWLD", "RPRWDRLRWRERWR", "K"),
}
# Seconds one block takes at this commit on 4 cores; fixes the number of
# blocks a run of ``--seconds`` times (see ``n_blocks``).
BLOCK_S = {"clouds_interactive": 17.0, "cypher_analytics": 22.0}
MAX_BLOCKS = 6


def n_blocks(workload: str, seconds: float) -> int:
    """Blocks a run times: the whole number closest to ``seconds`` at this
    commit's block time. The op count is then fixed by the arguments alone,
    not by how fast the machine or the program is, so two runs (and two
    commits) time the same ops."""
    return max(1, min(MAX_BLOCKS, round(seconds / BLOCK_S[workload])))


def _slot_spec(slot: str, pick: Picker, i: int) -> dict:
    if slot in GRAPH_SLOTS:
        return dict(GRAPH_SLOTS[slot], kind="graph")
    if slot == "R":
        j = pick.nth("read")
        return _read_spec(READ_TEMPLATES[j % len(READ_TEMPLATES)], pick)
    if slot == "W":
        j = pick.nth("write")
        return _write_spec(WRITE_TEMPLATES[j % len(WRITE_TEMPLATES)], pick, i)
    spec = {"kind": {"T": "taxon", "F": "family", "f": "family"}.get(slot, "host")}
    spec["name"] = {"taxon": pick.genus, "family": pick.family,
                    "host": pick.host}[spec["kind"]]()
    spec["t"] = pick.threshold()
    if spec["kind"] == "family":
        spec["rank"] = "genus" if slot == "F" else "subfamily"
    elif spec["kind"] == "host":
        spec["harsh"] = slot == "h"
    return spec


def make_specs(workload: str, meta: dict, seed: int) -> list[dict]:
    """The op sequence for a seed: the warm-up prefix, ``MAX_BLOCKS``
    blocks, then the traced-only ops, each tagged with its ``phase``."""
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    pick = Picker(meta, rng)
    warm, block, traced_only = PLANS[workload]
    specs: list[dict] = []
    for phase, slots in (("warmup", warm), ("timed", block * MAX_BLOCKS),
                         ("traced_only", traced_only)):
        for slot in slots:
            spec = _slot_spec(slot, pick, len(specs))
            spec["phase"] = phase
            spec["key"] = f"{workload[:2]}{len(specs):03d}"
            specs.append(spec)
    return specs


# --------------------------------------------------------------------------
# Cypher query texts (built outside the timed region)
# --------------------------------------------------------------------------


def read_query(spec: dict) -> tuple[str, dict]:
    """The query text for a read spec. The reference's templates are
    formatted exactly as its scripts do, IN-lists included
    (phageclouds_gdb.py:56-73, _family.py:94-99, _host.py:57-65)."""
    tpl, t = spec["tpl"], spec.get("t")
    if tpl == "taxon_seed_expand":
        return ("""MATCH (a:PhageGenome {{source:'NCBI'}})-[r:sharesDNA]->(b:PhageGenome)
                WHERE a.taxonomy CONTAINS '{}' AND r.distance <= {}
                RETURN a.accession AS {}_phage, b.accession AS target_phage;""".format(
            spec["name"], t, spec["name"]), {})
    if tpl == "induced_in_list":
        ns = spec["ids"]
        return ("""MATCH (a:PhageGenome)-[r:sharesDNA]->(b:PhageGenome)
                WHERE a.accession in {} AND b.accession in {} AND r.distance <= {}
                RETURN a.accession AS Source, b.accession AS Target,
                r.distance as Distance;""".format(ns, ns, t), {})
    if tpl == "node_attrs_in_list":
        return ("""MATCH (a:PhageGenome) WHERE a.accession in {}
                RETURN a.accession as Phage, a.source as Source, a.genome_size as Genome_size,
                a.taxonomy CONTAINS '{}' as Phage_is_{};""".format(
            spec["ids"], spec["name"], spec["name"]), {})
    if tpl == "family_collect":
        return ((
            'MATCH (p:PhageGenome {{source:"NCBI"}}) WHERE p.taxonomy CONTAINS "{}" '
            "OPTIONAL MATCH (p)-[r:sharesDNA]->(q:PhageGenome) WHERE r.distance <= {} "
            "WITH collect(p.accession) AS target_phages, collect(q.accession) AS connected_phages "
            "RETURN target_phages + [x IN connected_phages WHERE NOT x IN target_phages] "
            "AS phage_nodes;").format(spec["name"], t), {})
    if tpl == "host_collect":
        harsh = 'AND a.source <> "GTDB_predicted_prophages" ' if spec["harsh"] else ""
        return ((
            'MATCH (a:PhageGenome)-[r:sharesDNA]->(b:PhageGenome) '
            'WHERE (a)-[:infects]->(:Host {{genus:"{}"}}) AND r.distance <= {} '
            + harsh +
            "WITH collect(a.accession) as a_list, collect(b.accession) as b_list "
            "RETURN a_list + [x IN b_list WHERE NOT x IN a_list] AS node_list;"
        ).format(spec["name"], t), {})
    if tpl == "host_attrs_in_list":
        return ("""MATCH (a:PhageGenome) WHERE a.accession IN {} OPTIONAL MATCH (a)-[:infects]->(h:Host)
                RETURN a.accession AS Phage, a.source AS Source, a.genome_size AS Genome_size, a.genus AS Phage_genus, h.genus AS Host;""".format(
            spec["ids"]), {})
    if tpl == "family_attrs_in_list":
        return ("""MATCH (p:PhageGenome) WHERE p.accession IN {} RETURN p.accession AS Phage, p.source AS Source, p.genome_size AS Genome_size, p.taxonomy AS       Lineage;""".format(
            spec["ids"]), {})
    if tpl == "agg_by_source":
        return ("MATCH (a:PhageGenome) WHERE a.genome_size >= $min_size "
                "RETURN a.source AS src, count(a.accession) AS n, "
                "max(a.genome_size) AS biggest", {"min_size": spec["min_size"]})
    if tpl == "optional_hosts":
        return ("MATCH (a:PhageGenome) WHERE a.genus = $g "
                "OPTIONAL MATCH (a)-[:infects]->(h:Host) "
                "RETURN a.accession AS phage, h.genus AS host", {"g": spec["name"]})
    if tpl == "varlen_from_seed":
        return ("MATCH (a:PhageGenome)-[:sharesDNA*1..2]->(b:PhageGenome) "
                "WHERE a.accession = $acc RETURN b.accession AS b", {"acc": spec["acc"]})
    if tpl == "topk_neighbours":
        return ("MATCH (a:PhageGenome {accession: $acc})-[r:sharesDNA]-(b:PhageGenome) "
                "RETURN b.accession AS nbr, r.distance AS d "
                "ORDER BY d ASC, nbr ASC LIMIT 10", {"acc": spec["acc"]})
    raise ValueError(f"unknown read template {tpl!r}")


def _map_list(rows: list[dict]) -> str:
    """A Cypher list-of-maps literal. The rows are inlined into the query
    text: a ``$rows`` parameter holding maps fails at this engine's literal
    conversion (UNSUPPORTED_FEATURE.LITERAL_TYPE)."""
    def lit(v):
        return f"'{v}'" if isinstance(v, str) else repr(v)
    return "[" + ", ".join(
        "{" + ", ".join(f"{k}: {lit(v)}" for k, v in r.items()) + "}"
        for r in rows) + "]"


def write_query(spec: dict) -> tuple[str, dict, str, dict]:
    """(write text, params, verifying read text, its params)."""
    tpl = spec["tpl"]
    rows = _map_list(spec.get("rows", []))
    count_edges = ("MATCH (a:PhageGenome)-[r:sharesDNA]->(b:PhageGenome) "
                   "RETURN count(*) AS c")
    if tpl == "create_nodes":
        return (f"UNWIND {rows} AS row CREATE (n:PhageGenome {{accession: row.acc, "
                "source: row.src, genome_size: row.gs})", {},
                "MATCH (n:PhageGenome) RETURN count(n) AS c, sum(n.genome_size) AS s", {})
    if tpl == "create_edges":
        return (f"UNWIND {rows} AS row MATCH (a:PhageGenome), (b:PhageGenome) "
                "WHERE a.accession = row.a AND b.accession = row.b "
                "CREATE (a)-[:sharesDNA {distance: row.d}]->(b)", {},
                count_edges, {})
    if tpl == "merge_nodes":
        return (f"UNWIND {rows} AS row MERGE (n:PhageGenome {{accession: row.acc}}) "
                "ON CREATE SET n.source = 'Tara', n.genome_size = row.gs "
                "ON MATCH SET n.genome_size = n.genome_size + 1", {},
                "MATCH (n:PhageGenome) RETURN count(n) AS c, sum(n.genome_size) AS s", {})
    if tpl == "set_prop":
        return ("MATCH (a:PhageGenome) WHERE a.genus = $g "
                "SET a.genome_size = a.genome_size * 2", {"g": spec["name"]},
                "MATCH (a:PhageGenome) WHERE a.genus = $g "
                "RETURN count(a) AS c, sum(a.genome_size) AS s", {"g": spec["name"]})
    if tpl == "detach_delete":
        return ("MATCH (a:PhageGenome) WHERE a.accession IN $ids DETACH DELETE a",
                {"ids": spec["ids"]}, count_edges, {})
    raise ValueError(f"unknown write template {tpl!r}")


def out_path(work: str, spec: dict) -> str:
    return os.path.join(work, "out", spec["key"])
