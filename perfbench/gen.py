"""Seeded synthetic phage property graph (FIXTURES.md §A shape).

``generate(seed, n_genomes)`` returns the four tables as pyarrow Tables plus a
small ``meta`` dict the workloads draw their op parameters from. The SIZES
of every structure (genus sizes, cluster sizes, family and host fan-outs) are
fixed quantiles that do not depend on the seed; the seed picks names,
memberships, directions, distances and which rows miss a rank. Two seeds
therefore give graphs of the same cost profile, so a per-seed benchmark
figure moves with the program and not with the draw.

``materialize(root, seed, n_genomes)`` writes the tables once per
(seed, size) under ``root`` and returns the directory; later calls reuse it.
The same seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ("NCBI", "Tara", "GPD_Isolate", "GPD_Metagenome", "GTDB_predicted_prophages")
SOURCE_P = (0.75, 0.06, 0.05, 0.08, 0.06)
LINEAGE_COLS = (
    "accession", "taxid", "superkingdom", "phylum", "class", "order",
    "family", "subfamily", "genus", "species",
)
CLUSTER_MAX = 24
FORMAT_VERSION = 2


def _genus_sizes(n_genomes: int) -> list[int]:
    """Bounded-Pareto genus sizes at fixed quantiles: many small genera, a
    few large ones, capped so the largest cloud stays near the goldens'
    1,086 nodes."""
    sizes: list[int] = []
    total = 0
    i = 0
    while total < n_genomes:
        # quantiles cycle through a fixed 64-step ladder
        u = ((i * 37) % 64 + 0.5) / 64
        s = int(min(1200, 6 / u ** 1.1))
        s = min(s, n_genomes - total)
        sizes.append(s)
        total += s
        i += 1
    return sizes


def generate(seed: int, n_genomes: int) -> tuple[dict[str, pa.Table], dict]:
    rng = np.random.default_rng(seed)
    sizes = _genus_sizes(n_genomes)
    n_genera = len(sizes)
    n_families = max(4, n_genomes // 700)
    n_hosts = max(8, n_genomes // 250)

    # names: fixed-width numbers so no name is a substring of another
    # (taxonomy predicates are CONTAINS)
    genus_ids = rng.permutation(10_000)[:n_genera]
    genus_names = [f"Gen{g:04d}virus" for g in genus_ids]
    fam_ids = rng.permutation(1_000)[:n_families]
    fam_names = [f"Fam{f:03d}viridae" for f in fam_ids]
    subfam_names = [f"Sub{f:03d}virinae" for f in fam_ids]
    orders = ["Caudovirales", "Crassvirales", "Petitvirales"]
    host_ids = rng.permutation(10_000)[:n_hosts]
    host_names = [f"Host{h:04d}bacter" for h in host_ids]
    # host popularity: fixed Zipf weights, seed-shuffled onto names
    host_w = 1.0 / np.arange(1, n_hosts + 1) ** 0.8
    host_w /= host_w.sum()

    # genus -> family round-robin and genus -> primary host from a fixed
    # draw: family and host sizes are a function of their index, the same
    # for every seed (the seed only names them)
    genus_family = np.arange(n_genera) % n_families
    genus_host = np.random.default_rng(0).choice(n_hosts, size=n_genera, p=host_w)
    genus_gsize = rng.uniform(np.log(20_000), np.log(200_000), size=n_genera)

    prefixes = np.array(["AB", "KC", "MN", "NC", "OK", "MT", "LR", "OQ"])
    nums = rng.permutation(10**6)[:n_genomes]
    pref = prefixes[rng.integers(0, len(prefixes), size=n_genomes)]
    acc = np.array([f"{p}{x:06d}" for p, x in zip(pref, nums)])

    node_genus = np.repeat(np.arange(n_genera), sizes)
    source = rng.choice(len(SOURCES), size=n_genomes, p=SOURCE_P)
    gsize = np.exp(genus_gsize[node_genus] + rng.normal(0, 0.35, n_genomes))
    gsize = np.clip(gsize, 12_000, 372_000).astype(np.int64)
    miss_family = rng.random(n_genomes) < 0.16
    miss_subfam = rng.random(n_genomes) < 0.80
    miss_genus = rng.random(n_genomes) < 0.44
    miss_order = rng.random(n_genomes) < 0.10
    dirty_genus = rng.random(n_genomes) < 0.03

    taxonomy, n_genus_col = [], []
    lin = {c: [] for c in LINEAGE_COLS}
    for i in range(n_genomes):
        g = node_genus[i]
        f = genus_family[g]
        ranks = [
            "Viruses", "Uroviricota", "Caudoviricetes",
            "" if miss_order[i] else orders[f % 3],
            "" if miss_family[i] else fam_names[f],
            "" if miss_subfam[i] else subfam_names[f],
            "" if miss_genus[i] else genus_names[g],
            f"phage {acc[i]}",
        ]
        taxonomy.append(";".join(r for r in ranks if r))
        if dirty_genus[i]:
            n_genus_col.append(fam_names[f])
        else:
            n_genus_col.append(None if miss_genus[i] else genus_names[g])
        lin["accession"].append(acc[i])
        lin["taxid"].append(int(100_000 + genus_ids[g] * 10))
        for col, val in zip(LINEAGE_COLS[2:], ranks):
            lin[col].append(val)

    # edges: near-clique clusters inside each genus, a chain of links between
    # a genus' clusters, sparse longer links between genera of one family
    src, dst, dist = [], [], []

    def add(a: int, b: int, d: float) -> None:
        if rng.random() < 0.5:
            a, b = b, a
        src.append(a)
        dst.append(b)
        dist.append(d)

    start = 0
    family_members: list[list[int]] = [[] for _ in range(n_families)]
    for g, size in enumerate(sizes):
        members = np.arange(start, start + size)
        start += size
        family_members[genus_family[g]].extend(members[:4].tolist())
        n_cl = -(-size // CLUSTER_MAX)
        clusters = np.array_split(members, n_cl)
        for c, cl in enumerate(clusters):
            # ~5% of nodes in each cluster stay edgeless (isolated nodes)
            live = cl[rng.random(len(cl)) >= 0.05]
            base = rng.uniform(0.02, 0.16)
            ia, ib = np.triu_indices(len(live), k=1)
            keep = rng.random(len(ia)) < 0.6
            d = base + np.abs(rng.normal(0, 0.06, size=len(ia)))
            for a, b, x in zip(live[ia[keep]], live[ib[keep]], d[keep]):
                add(int(a), int(b), float(min(x, 1.0)))
            if c and len(live):
                prev = clusters[c - 1]
                for _ in range(3):
                    add(int(rng.choice(prev)), int(rng.choice(live)),
                        float(rng.uniform(0.08, 0.3)))
    for mem in family_members:
        mem = np.array(mem)
        for _ in range(len(mem)):
            a, b = rng.choice(mem, size=2, replace=False)
            add(int(a), int(b), float(rng.uniform(0.2, 0.5)))

    # de-duplicate unordered pairs: one stored direction per pair
    seen: set[tuple[int, int]] = set()
    es, ed, ex = [], [], []
    for a, b, x in zip(src, dst, dist):
        key = (a, b) if a < b else (b, a)
        if a == b or key in seen:
            continue
        seen.add(key)
        es.append(a)
        ed.append(b)
        ex.append(x)
    ex = np.array(ex)
    # exact-threshold and just-above-threshold distances, plus one -0.0
    special = rng.choice(len(ex), size=7, replace=False)
    for j, v in zip(special, [0.1, 0.15, 0.25, -0.0,
                              np.nextafter(0.1, 1), np.nextafter(0.15, 1),
                              np.nextafter(0.25, 1)]):
        ex[j] = v

    # infects: primary genus host with prob .8, else a popular host; 20%
    # hostless phages, 15% with a second host
    n_hosts_per = rng.choice(3, size=n_genomes, p=(0.2, 0.65, 0.15))
    isrc, ihost = [], []
    for i in range(n_genomes):
        got: list[int] = []
        for _ in range(n_hosts_per[i]):
            h = genus_host[node_genus[i]] if rng.random() < 0.8 and not got else \
                int(rng.choice(n_hosts, p=host_w))
            if h not in got:
                got.append(h)
        for h in got:
            isrc.append(acc[i])
            ihost.append(host_names[h])

    tables = {
        "nodes": pa.table({
            "accession": pa.array(acc.tolist(), pa.string()),
            "source": pa.array([SOURCES[s] for s in source], pa.string()),
            "taxonomy": pa.array(taxonomy, pa.string()),
            "genome_size": pa.array(gsize.tolist(), pa.int64()),
            "genus": pa.array(n_genus_col, pa.string()),
        }),
        "edges": pa.table({
            "src": pa.array(acc[np.array(es)].tolist(), pa.string()),
            "dst": pa.array(acc[np.array(ed)].tolist(), pa.string()),
            "distance": pa.array(ex.tolist(), pa.float64()),
        }),
        "infects": pa.table({
            "src": pa.array(isrc, pa.string()),
            "host_genus": pa.array(ihost, pa.string()),
        }),
        "lineages": pa.table({c: pa.array(v) for c, v in lin.items()}),
    }
    meta = {
        "seed": seed,
        "n_genomes": n_genomes,
        "n_edges": len(ex),
        "genera": [[genus_names[g], int(s)] for g, s in enumerate(sizes)],
        "families": [[fam_names[f], len(np.flatnonzero(genus_family == f))]
                     for f in range(n_families)],
        "hosts": host_names,
        "clusters": _cluster_lists(acc, sizes),
    }
    return tables, meta


def _cluster_lists(acc: np.ndarray, sizes: list[int]) -> list[list[str]]:
    out, start = [], 0
    for size in sizes:
        members = acc[start:start + size]
        start += size
        out.extend(c.tolist() for c in np.array_split(members, -(-size // CLUSTER_MAX)))
    return out


def _write_lineages_csv(table: pa.Table, path: str) -> None:
    cols = table.to_pydict()
    with open(path, "w", newline="") as f:
        f.write(",".join(LINEAGE_COLS) + "\n")
        for i in range(table.num_rows):
            f.write(",".join(str(cols[c][i]) for c in LINEAGE_COLS) + "\n")


def graph_dir(root: str, seed: int, n_genomes: int) -> str:
    return os.path.join(root, f"graph-v{FORMAT_VERSION}-s{seed}-n{n_genomes}")


def materialize(root: str, seed: int, n_genomes: int) -> str:
    """Write the graph for (seed, n_genomes) under ``root`` unless it is
    already there; return its directory (nodes/ edges/ infects/ Parquet,
    lineages.csv, meta.json)."""
    out = graph_dir(root, seed, n_genomes)
    if os.path.exists(os.path.join(out, "meta.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tables, meta = generate(seed, n_genomes)
    for name in ("nodes", "edges", "infects"):
        os.makedirs(os.path.join(tmp, name))
        pq.write_table(tables[name], os.path.join(tmp, name, "part-0.parquet"),
                       compression="snappy")
    _write_lineages_csv(tables["lineages"], os.path.join(tmp, "lineages.csv"))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
