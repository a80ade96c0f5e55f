"""End-to-end tests for the three cloud-extraction pipelines (SURVEY.md §3
E1-E3): synthetic-fixture semantics (every quirk pinned) plus golden parity
against the reference's committed HTML outputs (SURVEY.md §5)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from phageclouds_graphdatabase_spark import schemas
from phageclouds_graphdatabase_spark.plans import clouds
from phageclouds_graphdatabase_spark.sources import golden, sinks

from conftest import EDGE_ROWS, INFECTS_ROWS, NODE_ROWS

GOLDEN = "/root/reference/Tequatrovirus_025_clouds.html"

# (filename, threshold, expected nodes, expected edges) -- BASELINE.md
TAXON_GOLDENS = [
    ("Tequatrovirus_015_clouds.html", 0.15, 156, 11504),
    ("Tequatrovirus_025_clouds.html", 0.25, 264, 23247),
]


def node_ids(df):
    return {r.id for r in df.select("id").collect()}


# --- E1 taxon pipeline on the synthetic fixture ------------------------------

def test_taxon_seed_requires_qualifying_out_edge(spark, phage_nodes, shares_dna):
    # E1/D1-style: Q1 is a non-optional MATCH -- an NCBI Tequatrovirus node
    # with no qualifying out-edge must NOT appear.
    res = clouds.clouds_by_taxon(phage_nodes, shares_dna, "Tequatrovirus", 0.25)
    assert node_ids(res.nodes) == {"A1", "A2", "A3"}
    got_edges = {(r.src, r.dst) for r in res.edges.collect()}
    assert got_edges == {("A1", "A2"), ("A1", "A3"), ("A2", "A3")}


def test_taxon_colors_and_sizes(spark, phage_nodes, shares_dna):
    res = clouds.clouds_by_taxon(phage_nodes, shares_dna, "Tequatrovirus", 0.25)
    rows = {r.id: r for r in res.nodes.collect()}
    assert rows["A1"].color_background == "green"     # NCBI + is-taxon
    assert rows["A3"].color_background == "cyan"      # Tara
    assert rows["A1"].size == 168000 // 3000
    erows = {(r.src, r.dst): r for r in res.edges.collect()}
    assert erows[("A1", "A2")].value == 0.25 - 0.10 + 0.1


def test_taxon_non_ncbi_seeds_excluded(spark, phage_nodes, shares_dna):
    # A3 is Tara with 'Myoviridae' in taxonomy; seeds require source=NCBI
    # (/root/reference/phageclouds_gdb.py:56), so expanding 'Myoviridae'
    # must seed only from NCBI nodes (A1, A2).
    res = clouds.clouds_by_taxon(phage_nodes, shares_dna, "Myoviridae", 0.25)
    assert node_ids(res.nodes) == {"A1", "A2", "A3"}


# --- E3 host pipeline --------------------------------------------------------

def test_host_seeds_are_existential_semi_join(spark, phage_nodes, shares_dna, infects):
    # Cellulophaga is hosted only by B2; B2 has no OUT-edges, so the
    # directed expand yields nothing -> empty cloud (the reference would
    # render an empty graph).
    res = clouds.clouds_by_host(phage_nodes, shares_dna, infects, "Cellulophaga", 0.25)
    assert res.nodes.count() == 0

    # Escherichia hosts A1, A2, B1 -> their out-neighborhoods.
    res2 = clouds.clouds_by_host(phage_nodes, shares_dna, infects, "Escherichia", 0.25)
    assert node_ids(res2.nodes) == {"A1", "A2", "A3", "B1", "B2"}


def test_host_harsh_filters_seed_side_only(spark):
    # G1 is a GTDB phage infecting Escherichia with one out-edge G1 -> B3.
    # Harsh drops G1 as a SEED, so with no other way in, G1 and B3 vanish.
    # (Fresh local frames: unions over the cached fixtures would recompute
    # their Python RDDs in every one of the ~35 jobs a host cloud runs.)
    nodes = spark.createDataFrame(
        NODE_ROWS + [("G1", "GTDB_predicted_prophages", "Viruses", 30000, None)],
        schemas.PHAGE_NODES,
    ).cache()
    infects = spark.createDataFrame(
        INFECTS_ROWS + [("G1", "Escherichia")], schemas.INFECTS
    ).cache()

    def ids(extra_edges, harsh):
        edges = spark.createDataFrame(EDGE_ROWS + extra_edges, schemas.SHARES_DNA)
        res = clouds.clouds_by_host(nodes, edges, infects, "Escherichia", 0.25, harsh=harsh)
        return node_ids(res.nodes)

    g1_b3 = [("G1", "B3", 0.05)]
    assert {"G1", "B3"} <= ids(g1_b3, harsh=False)
    assert not {"G1", "B3"} & ids(g1_b3, harsh=True)

    # The filter is on the seed side only: once the kept Escherichia seed
    # B1 points at G1, G1 enters as a TARGET, while B3, reached only
    # through G1's own out-edge, stays out.
    b1_g1 = g1_b3 + [("B1", "G1", 0.05)]
    got = ids(b1_g1, harsh=True)
    assert "G1" in got and "B3" not in got
    assert {"G1", "B3"} <= ids(b1_g1, harsh=False)
    nodes.unpersist()
    infects.unpersist()


def test_host_any_host_join_deduped_deterministically(spark, phage_nodes, shares_dna, infects):
    # B2 infects {Cellulophaga, Salmonella}; the attribute join multiplies
    # rows then A4 dedups last-write-wins pinned to max(host_genus).
    res = clouds.clouds_by_host(phage_nodes, shares_dna, infects, "Escherichia", 0.25)
    rows = {r.id: r for r in res.nodes.collect()}
    assert rows["B2"].host == "Salmonella"
    assert res.nodes.count() == res.nodes.select("id").distinct().count()
    # A3 has no host -> NULL host, title renders 'None' like a Python f-string.
    assert rows["A3"].host is None
    assert rows["A3"].title.startswith("Target host genus: None<br>")
    assert rows["A1"].color_background == "#8acb4a"  # V2 hex map, NCBI


# --- E2 family pipeline ------------------------------------------------------

def test_family_keeps_edgeless_members(spark, phage_nodes, shares_dna, lineages):
    # OPTIONAL MATCH (J4): E1 (Herelleviridae, no edges) stays in.
    res = clouds.clouds_by_family(
        phage_nodes, shares_dna, lineages, "Herelleviridae", "genus", 0.15
    )
    assert node_ids(res.nodes) == {"D1", "D2", "E1"}
    # d=0.15 excludes the D1->D2 edge (0.25).
    assert res.edges.count() == 0


def test_family_palette_and_rank_extraction(spark, phage_nodes, shares_dna, lineages):
    res = clouds.clouds_by_family(
        phage_nodes, shares_dna, lineages, "Herelleviridae", "genus", 0.25
    )
    rows = {r.id: r for r in res.nodes.collect()}
    assert rows["D1"].target_taxon == "Bastillevirus"
    assert rows["E1"].target_taxon == "Okubovirus"
    # Palette pinned alphabetical: Bastillevirus, Nitunavirus, Okubovirus ->
    # tab20[0], tab20[1], tab20[2] via lineage substring match.
    from phageclouds_graphdatabase_spark.functions.derive import TAB20_HEX

    assert rows["D1"].color_background == TAB20_HEX[0]
    assert rows["D2"].color_background == TAB20_HEX[1]
    assert rows["E1"].color_background == TAB20_HEX[2]
    assert rows["D1"].title == "Source: NCBI<br>Genome size: 152_000<br>genus: Bastillevirus"


def test_family_uncatalogued_fails_loud(spark, phage_nodes, shares_dna, lineages):
    # VERDICT r6 "What's missing" #1: the reference resolves any family via
    # the live NCBI sqlite and fails loudly on an unknown name
    # (phageclouds_gdb_family.py:49 — None[0] TypeError); with the committed
    # lineages dim the engine must raise, not silently emit an empty
    # palette / all-black cloud.
    from phageclouds_graphdatabase_spark.functions import derive

    with pytest.raises(derive.UncataloguedFamilyError, match="Nonexistviridae"):
        clouds.clouds_by_family(
            phage_nodes, shares_dna, lineages, "Nonexistviridae", "genus", 0.25
        )
    # catalogued family: must NOT raise regardless of rank coverage (the
    # reference's empty-taxa-set path colors NCBI nodes black, no error)
    derive.taxon_palette(lineages, "Herelleviridae", "genus").count()
    # strict=False restores the permissive empty palette for unknown names
    assert derive.taxon_palette(lineages, "Nonexistviridae", "genus", strict=False).count() == 0


# --- Output contract and persisted state, per entry point -------------------

# Threshold 0.2 is used by no other test, so each cloud plan of the
# persisted-state test is new to the session's cache manager and a leaked
# `.cache()` would add an RDD. The sink tests use the default 0.25.
CLOUD_CALLS = {
    "taxon": lambda n, e, inf, lin, t=0.2: clouds.clouds_by_taxon(n, e, "Tequatrovirus", t),
    "family": lambda n, e, inf, lin, t=0.2: clouds.clouds_by_family(
        n, e, lin, "Herelleviridae", "genus", t
    ),
    "host": lambda n, e, inf, lin, t=0.2: clouds.clouds_by_host(n, e, inf, "Escherichia", t),
    "host_harsh": lambda n, e, inf, lin, t=0.2: clouds.clouds_by_host(
        n, e, inf, "Escherichia", t, harsh=True
    ),
}

_EDGES = ["src", "dst", "weight", "value", "color"]
_TAIL = ["size", "color_background", "color_border", "title"]


@pytest.mark.parametrize(
    "kind, node_cols, edge_cols",
    [
        ("taxon", ["id", "source", "genome_size", "Phage_is_Tequatrovirus"] + _TAIL, _EDGES),
        ("family", ["id", "source", "genome_size", "target_taxon"] + _TAIL, _EDGES + ["title"]),
        ("host", ["id", "source", "genome_size", "phage_genus", "host"] + _TAIL, _EDGES + ["title"]),
        ("host_harsh", ["id", "source", "genome_size", "phage_genus", "host"] + _TAIL, _EDGES + ["title"]),
    ],
)
def test_cloud_output_columns(spark, phage_nodes, shares_dna, infects, lineages,
                              kind, node_cols, edge_cols):
    # perfbench and the verify_local clouds entries read these names in order
    res = CLOUD_CALLS[kind](phage_nodes, shares_dna, infects, lineages)
    assert res.nodes.columns == node_cols
    assert res.edges.columns == edge_cols


@pytest.mark.parametrize("kind", sorted(CLOUD_CALLS))
def test_cloud_op_leaves_no_persisted_state(spark, phage_nodes, shares_dna, infects,
                                           lineages, tmp_path, kind):
    inputs = (phage_nodes, shares_dna, infects, lineages)
    for df in inputs:  # materialize the cached fixtures before counting
        df.count()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    res = CLOUD_CALLS[kind](*inputs)
    sinks.write_vis_html(res.nodes, res.edges, str(tmp_path / "cloud.html"))
    assert jsc.getPersistentRDDs().size() == before


@pytest.mark.parametrize("kind", sorted(CLOUD_CALLS))
def test_vis_dicts_keep_each_frames_row_order(spark, phage_nodes, shares_dna, infects,
                                             lineages, kind):
    # The HTML lists rows in collect order, so the one-query sink must hand
    # back each side in the order of that frame's own collect().
    res = CLOUD_CALLS[kind](phage_nodes, shares_dna, infects, lineages, 0.25)
    want_nodes = [(r.id, r.size, r.color_background, r.title) for r in res.nodes.collect()]
    want_edges = [(r.src, r.dst, r.weight, r.value) for r in res.edges.collect()]
    vis_nodes, vis_edges = sinks.cloud_to_vis_dicts(res.nodes, res.edges)
    got_nodes = [(n["id"], n["size"], n["color"]["background"], n.get("title"))
                 for n in vis_nodes]
    got_edges = [(e["from"], e["to"], e["weight"], e["value"]) for e in vis_edges]
    assert want_nodes and want_edges
    assert got_nodes == want_nodes
    assert got_edges == want_edges


@pytest.mark.parametrize("kind", sorted(CLOUD_CALLS))
def test_vis_sink_makes_one_driver_round_trip(spark, phage_nodes, shares_dna, infects,
                                             lineages, tmp_path, monkeypatch, kind):
    # Nodes and edges come to the driver in one Spark query, so the cloud's
    # node set is computed once per op, not once per side.
    res = CLOUD_CALLS[kind](phage_nodes, shares_dna, infects, lineages, 0.25)
    cls = type(res.nodes)  # the implementation class, not the abstract one
    calls = []
    depth = [0]

    def counting(name):
        real = getattr(cls, name)

        def wrapper(self, *a, **kw):
            if depth[0] == 0:  # toPandas may collect internally
                calls.append(name)
            depth[0] += 1
            try:
                return real(self, *a, **kw)
            finally:
                depth[0] -= 1

        return wrapper

    for name in ("toPandas", "collect", "toLocalIterator"):
        monkeypatch.setattr(cls, name, counting(name))
    sinks.write_vis_html(res.nodes, res.edges, str(tmp_path / "cloud.html"))
    assert len(calls) == 1, calls


# --- Golden parity (SURVEY.md §5: the reference's only correctness artifacts)

@pytest.mark.skipif(not os.path.exists(GOLDEN), reason="reference goldens absent")
class TestGoldenParity:
    @pytest.fixture(scope="class", params=TAXON_GOLDENS, ids=lambda p: p[0])
    def golden_run(self, request, spark):
        fname, threshold, n_nodes, n_edges = request.param
        path = os.path.join("/root/reference", fname)
        g_nodes, g_edges = golden.golden_frames(spark, path)
        in_nodes, in_edges = golden.reconstruct_taxon_input(spark, path, "Tequatrovirus")
        res = clouds.clouds_by_taxon(in_nodes, in_edges, "Tequatrovirus", threshold)
        return g_nodes, g_edges, res, n_nodes, n_edges

    def test_golden_cardinalities(self, golden_run):
        g_nodes, g_edges, res, n_nodes, n_edges = golden_run
        assert g_nodes.count() == n_nodes and g_edges.count() == n_edges
        assert res.nodes.count() == n_nodes and res.edges.count() == n_edges

    def test_golden_node_parity(self, golden_run):
        g_nodes, _, res, *_ = golden_run
        got = {(r.id, r.color_background, r.size) for r in res.nodes.collect()}
        want = {(r.id, r.color_background, r.size) for r in g_nodes.collect()}
        assert got == want

    def test_golden_edge_parity_bit_exact(self, golden_run):
        # value = t - distance + 0.1 with identical IEEE ops -> bit-exact.
        _, g_edges, res, *_ = golden_run
        got = {(r.src, r.dst, r.weight, r.value) for r in res.edges.collect()}
        want = {(r.src, r.dst, r.weight, r.value) for r in g_edges.collect()}
        assert got == want
