"""Independent answers for every op, from DuckDB over the generated files.

Relational answers (clouds, Cypher reads, write deltas, degrees) are SQL;
the graph fixpoints (component labels, core numbers, integer PageRank) run
in plain Python over the DuckDB-selected edge lists, with algorithms other
than the program's (union-find, bucket peeling, dict iteration). Run as a
script it writes the op sequence and its answers to one JSON file, so the
benchmark process itself never generates the graph or loads DuckDB:

    python3 perfbench/oracle.py --cache DIR --genomes N --workload NAME --seed S --out FILE

It first writes the graph for (seed, genomes) under the cache directory
unless it is already there (``gen.materialize``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import workloads  # noqa: E402
from workloads import cloud_digest, rows_digest  # noqa: E402

TAXON_COLOR = """CASE WHEN source = 'NCBI' AND contains(taxonomy, $name) THEN 'green'
    WHEN source = 'NCBI' THEN 'red' WHEN source = 'Tara' THEN 'cyan'
    WHEN source = 'GPD_Isolate' THEN 'pink' WHEN source = 'GPD_Metagenome' THEN 'purple'
    ELSE 'yellow' END"""


class Oracle:
    def __init__(self, graph_dir: str):
        self.con = duckdb.connect()
        for t in ("nodes", "edges", "infects"):
            p = os.path.join(graph_dir, t, "*.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self.n_nodes, self.sum_size = self.one(
            "SELECT count(*), sum(genome_size) FROM nodes")
        (self.n_edges,) = self.one("SELECT count(*) FROM edges")
        self.memo: dict[str, dict] = {}

    def q(self, sql: str, params: dict | None = None) -> list[tuple]:
        used = {k: v for k, v in (params or {}).items() if f"${k}" in sql}
        return self.con.execute(sql, used).fetchall()

    def one(self, sql: str, params: dict | None = None) -> tuple:
        return self.q(sql, params)[0]

    # -- clouds ------------------------------------------------------------

    def cloud(self, spec: dict) -> dict:
        p = {"name": spec["name"], "t": spec["t"]}
        if spec["kind"] == "taxon":
            seeds = ("SELECT accession FROM nodes WHERE source = 'NCBI' "
                     "AND contains(taxonomy, $name)")
            ns = (f"SELECT src AS id FROM edges WHERE distance <= $t AND src IN ({seeds}) "
                  f"UNION SELECT dst FROM edges WHERE distance <= $t AND src IN ({seeds})")
        elif spec["kind"] == "family":
            seeds = ("SELECT accession FROM nodes WHERE source = 'NCBI' "
                     "AND contains(taxonomy, $name)")
            ns = (f"{seeds} UNION SELECT dst FROM edges "
                  f"WHERE distance <= $t AND src IN ({seeds})")
        else:
            harsh = "AND source <> 'GTDB_predicted_prophages'" if spec["harsh"] else ""
            seeds = ("SELECT accession FROM nodes WHERE accession IN "
                     f"(SELECT src FROM infects WHERE host_genus = $name) {harsh}")
            ns = (f"SELECT src AS id FROM edges WHERE distance <= $t AND src IN ({seeds}) "
                  f"UNION SELECT dst FROM edges WHERE distance <= $t AND src IN ({seeds})")
        color = f", {TAXON_COLOR}" if spec["kind"] == "taxon" else ""
        nodes = self.q(f"SELECT accession, (genome_size // 3000)::INT {color} "
                       f"FROM nodes WHERE accession IN ({ns})", p)
        edges = self.q(f"SELECT src, dst, distance FROM edges WHERE distance <= $t "
                       f"AND src IN ({ns}) AND dst IN ({ns})", p)
        return cloud_digest(nodes, edges)

    # -- Cypher ------------------------------------------------------------

    def read(self, spec: dict) -> dict:
        tpl, ids = spec["tpl"], spec.get("ids")
        p = {k: spec[k] for k in ("name", "t") if k in spec}
        if tpl == "taxon_seed_expand":
            rows = self.q("SELECT e.src, e.dst FROM edges e JOIN nodes a "
                          "ON a.accession = e.src WHERE a.source = 'NCBI' AND "
                          "contains(a.taxonomy, $name) AND e.distance <= $t", p)
        elif tpl == "induced_in_list":
            rows = self.q("SELECT src, dst, distance FROM edges WHERE src IN "
                          "(SELECT unnest($ids)) AND dst IN (SELECT unnest($ids)) "
                          "AND distance <= $t", {"ids": ids, "t": spec["t"]})
        elif tpl == "node_attrs_in_list":
            rows = self.q("SELECT accession, source, genome_size, contains(taxonomy, $name) "
                          "FROM nodes WHERE accession IN (SELECT unnest($ids))",
                          {"ids": ids, "name": spec["name"]})
        elif tpl == "family_collect":
            pairs = self.q(
                "SELECT p.accession, e.dst FROM nodes p LEFT JOIN edges e "
                "ON e.src = p.accession AND e.distance <= $t "
                "WHERE p.source = 'NCBI' AND contains(p.taxonomy, $name)", p)
            targets = [a for a, _ in pairs]
            tset = set(targets)
            rows = [(targets + [b for _, b in pairs if b is not None and b not in tset],)]
        elif tpl == "host_collect":
            harsh = "AND a.source <> 'GTDB_predicted_prophages'" if spec["harsh"] else ""
            pairs = self.q(
                "SELECT e.src, e.dst FROM edges e JOIN nodes a ON a.accession = e.src "
                "WHERE e.distance <= $t AND e.src IN "
                f"(SELECT src FROM infects WHERE host_genus = $name) {harsh}", p)
            a_list = [a for a, _ in pairs]
            aset = set(a_list)
            rows = [(a_list + [b for _, b in pairs if b not in aset],)]
        elif tpl == "host_attrs_in_list":
            rows = self.q("SELECT a.accession, a.source, a.genome_size, a.genus, "
                          "i.host_genus FROM nodes a LEFT JOIN infects i "
                          "ON i.src = a.accession WHERE a.accession IN (SELECT unnest($ids))",
                          {"ids": ids})
        elif tpl == "family_attrs_in_list":
            rows = self.q("SELECT accession, source, genome_size, taxonomy FROM nodes "
                          "WHERE accession IN (SELECT unnest($ids))", {"ids": ids})
        elif tpl == "agg_by_source":
            rows = self.q("SELECT source, count(accession), max(genome_size) FROM nodes "
                          "WHERE genome_size >= $m GROUP BY source", {"m": spec["min_size"]})
        elif tpl == "optional_hosts":
            rows = self.q("SELECT a.accession, i.host_genus FROM nodes a LEFT JOIN "
                          "infects i ON i.src = a.accession WHERE a.genus = $name", p)
        elif tpl == "varlen_from_seed":
            rows = self.q("SELECT dst FROM edges WHERE src = $acc UNION "
                          "SELECT e2.dst FROM edges e1 JOIN edges e2 ON e2.src = e1.dst "
                          "WHERE e1.src = $acc", {"acc": spec["acc"]})
        elif tpl == "topk_neighbours":
            rows = self.q("SELECT nbr, d FROM (SELECT dst AS nbr, distance AS d FROM edges "
                          "WHERE src = $acc UNION ALL SELECT src, distance FROM edges "
                          "WHERE dst = $acc) ORDER BY d, nbr LIMIT 10", {"acc": spec["acc"]})
        else:
            raise ValueError(tpl)
        return rows_digest(rows)

    def write(self, spec: dict) -> dict:
        tpl = spec["tpl"]
        if tpl == "create_nodes":
            rows = [(self.n_nodes + len(spec["rows"]),
                     self.sum_size + sum(r["gs"] for r in spec["rows"]))]
        elif tpl == "create_edges":
            rows = [(self.n_edges + len(spec["rows"]),)]
        elif tpl == "merge_nodes":
            accs = [r["acc"] for r in spec["rows"]]
            (existing,) = self.one("SELECT count(*) FROM nodes WHERE accession IN "
                                   "(SELECT unnest($a))", {"a": accs})
            new = [r for r in spec["rows"]
                   if not self.one("SELECT count(*) FROM nodes WHERE accession = $a",
                                   {"a": r["acc"]})[0]]
            rows = [(self.n_nodes + len(new),
                     self.sum_size + existing + sum(r["gs"] for r in new))]
        elif tpl == "set_prop":
            c, s = self.one("SELECT count(*), sum(genome_size) FROM nodes "
                            "WHERE genus = $g", {"g": spec["name"]})
            rows = [(c, None if s is None else 2 * s)]
        elif tpl == "detach_delete":
            (gone,) = self.one("SELECT count(*) FROM edges WHERE src IN (SELECT unnest($i)) "
                               "OR dst IN (SELECT unnest($i))", {"i": spec["ids"]})
            rows = [(self.n_edges - gone,)]
        else:
            raise ValueError(tpl)
        return rows_digest(rows)

    # -- graph analytics ---------------------------------------------------

    def graph(self, spec: dict) -> dict:
        t = {"t": spec["t"]}
        if spec["op"] == "degrees":
            return rows_digest(self.q(
                "WITH e AS (SELECT src, dst FROM edges WHERE distance <= $t), "
                "o AS (SELECT src AS id, count(*) AS c FROM e GROUP BY src), "
                "i AS (SELECT dst AS id, count(*) AS c FROM e GROUP BY dst) "
                "SELECT coalesce(o.id, i.id), coalesce(o.c, 0), coalesce(i.c, 0), "
                "coalesce(o.c, 0) + coalesce(i.c, 0) FROM o FULL OUTER JOIN i ON o.id = i.id",
                t))
        edges = self.q("SELECT src, dst FROM edges WHERE distance <= $t", t)
        if spec["op"] == "components":
            return rows_digest(components(edges))
        if spec["op"] == "core":
            return rows_digest(core_numbers(edges))
        if spec["op"] == "pagerank":
            return rows_digest(pagerank_scaled(edges))
        raise ValueError(spec["op"])

    def answer(self, workload: str, spec: dict) -> dict:
        """The expected digest of one op, computed once per distinct spec."""
        memo_key = json.dumps({k: v for k, v in spec.items() if k != "key"},
                              sort_keys=True)
        if memo_key not in self.memo:
            self.memo[memo_key] = self._answer(workload, spec)
        return self.memo[memo_key]

    def _answer(self, workload: str, spec: dict) -> dict:
        if workload == "clouds_interactive":
            return self.cloud(spec)
        return {"read": self.read, "write": self.write,
                "graph": self.graph}[spec["kind"]](spec)


def components(edges: list[tuple]) -> list[tuple]:
    """(id, min id of its component) by union-find."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(x, find(x)) for x in parent]


def core_numbers(edges: list[tuple]) -> list[tuple]:
    """(id, core number) by bucket peeling of the simple undirected graph."""
    adj: dict = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    deg = {v: len(n) for v, n in adj.items()}
    buckets: dict[int, set] = {}
    for v, d in deg.items():
        buckets.setdefault(d, set()).add(v)
    core, k = {}, 0
    while len(core) < len(adj):
        while not buckets.get(k):
            k += 1
        v = buckets[k].pop()
        core[v] = k
        for u in adj[v]:
            if u not in core and deg[u] > k:
                buckets[deg[u]].discard(u)
                deg[u] -= 1
                buckets.setdefault(deg[u], set()).add(u)
    return list(core.items())


def pagerank_scaled(edges: list[tuple], iterations: int = 2, scale: int = 1_000_000,
                    d_num: int = 85, d_den: int = 100) -> list[tuple]:
    """Integer PageRank: each round a node sends pr // outdegree along each
    out-edge; new pr = (1-d) * scale + d * received, in exact integers."""
    nodes = {v for e in edges for v in e}
    od: dict = {}
    for a, _ in edges:
        od[a] = od.get(a, 0) + 1
    base = (scale * (d_den - d_num)) // d_den
    pr = dict.fromkeys(nodes, scale)
    for _ in range(iterations):
        got: dict = {}
        for a, b in edges:
            got[b] = got.get(b, 0) + pr[a] // od[a]
        pr = {v: base + (d_num * got.get(v, 0)) // d_den for v in nodes}
    return list(pr.items())


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cache", required=True)
    ap.add_argument("--genomes", type=int, required=True)
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    graph = gen.materialize(a.cache, a.seed, a.genomes)
    with open(os.path.join(graph, "meta.json")) as f:
        meta = json.load(f)
    specs = workloads.make_specs(a.workload, meta, a.seed)
    oracle = Oracle(graph)
    answers = {s["key"]: oracle.answer(a.workload, s) for s in specs}
    tmp = a.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"specs": specs, "answers": answers}, f)
    os.replace(tmp, a.out)


if __name__ == "__main__":
    main()
