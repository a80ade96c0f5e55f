"""Shared fixtures: one tuned SparkSession per test session, a DuckDB
connection with the testdata views registered, and the synthetic
property-graph fixtures of FIXTURES.md §A (deterministic, exercising every
golden-parity quirk: directed-once edge storage, multi-host phages, hostless
phages, exact-threshold distances)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from phageclouds_graphdatabase_spark import schemas
from phageclouds_graphdatabase_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def driver_mem() -> str:
    """The suite JVM's heap: ``$SPARK_GRAFT_DRIVER_MEM`` when set, else half
    of the host's memory in whole GiB. session.py's 16g product default
    exceeds a small host, where the kernel then kills the JVM mid-suite."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total // 2**30 // 2)}g"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "phageclouds-tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": driver_mem()},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


# --- FIXTURES.md §A synthetic graph -----------------------------------------
#
# Topology (distances in parens; all edges stored ONCE, arbitrary direction):
#
#   clique cloud:    A1 -> A2 (0.10), A1 -> A3 (0.20), A2 -> A3 (0.15)
#   chain cloud:     B1 -> B2 (0.05), B3 -> B2 (0.05)   <- B3->B2 points INTO
#                                                          the B2 frontier
#   cross-cloud:     A3 -> B1 (0.40)                     <- above thresholds
#   inbound-to-seed: C1 -> A1 (0.10)                     <- exercises the
#                                                          directed-only quirk
#   self-contained:  D1 -> D2 (0.25)                     <- exact-threshold
#   isolated node:   E1 (no edges)
#   negative zero:   F1 -> F2 (-0.0)

NODE_ROWS = [
    # (accession, source, taxonomy, genome_size, genus)
    ("A1", "NCBI", "Viruses;Duplodnaviria;Myoviridae;Tequatrovirus", 168000, "Tequatrovirus"),
    ("A2", "NCBI", "Viruses;Duplodnaviria;Myoviridae;Tequatrovirus", 171000, "Tequatrovirus"),
    ("A3", "Tara", "Viruses;Myoviridae", 45000, None),
    ("B1", "NCBI", "Viruses;Siphoviridae;Lambdavirus", 48502, "Lambdavirus"),
    ("B2", "GPD_Isolate", "Viruses;Siphoviridae", 51000, None),
    ("B3", "GTDB_predicted_prophages", "Viruses;unclassified", 33000, None),
    ("C1", "GPD_Metagenome", "Viruses;Myoviridae", 99000, None),
    ("D1", "NCBI", "Viruses;Herelleviridae;Bastillevirinae;Bastillevirus", 152000, "Bastillevirus"),
    ("D2", "NCBI", "Viruses;Herelleviridae;Bastillevirinae;Nitunavirus", 158000, "Nitunavirus"),
    ("E1", "NCBI", "Viruses;Herelleviridae;Spounavirinae;Okubovirus", 127000, "Okubovirus"),
    ("F1", "Tara", "Viruses", 12000, None),
    ("F2", "Tara", "Viruses", 12500, None),
]

EDGE_ROWS = [
    ("A1", "A2", 0.10),
    ("A1", "A3", 0.20),
    ("A2", "A3", 0.15),
    ("B1", "B2", 0.05),
    ("B3", "B2", 0.05),
    ("A3", "B1", 0.40),
    ("C1", "A1", 0.10),
    ("D1", "D2", 0.25),
    ("F1", "F2", -0.0),
]

INFECTS_ROWS = [
    # (src, host_genus): B2 has two hosts (row multiplication -> A4 dedup);
    # most phages have none (NULL path of the left-outer join).
    ("A1", "Escherichia"),
    ("A2", "Escherichia"),
    ("B1", "Escherichia"),
    ("B2", "Cellulophaga"),
    ("B2", "Salmonella"),
    ("D1", "Bacillus"),
]

LINEAGE_ROWS = [
    # accession, taxid, superkingdom, phylum, class, order, family, subfamily, genus, species
    ("A1", 10, "Viruses", "", "", "", "Myoviridae", "Tevenvirinae", "Tequatrovirus", "T4"),
    ("A2", 11, "Viruses", "", "", "", "Myoviridae", "Tevenvirinae", "Tequatrovirus", "T2"),
    ("B1", 12, "Viruses", "", "", "", "Siphoviridae", "", "Lambdavirus", "Lambda"),
    ("D1", 13, "Viruses", "", "", "", "Herelleviridae", "Bastillevirinae", "Bastillevirus", "Bastille"),
    ("D2", 14, "Viruses", "", "", "", "Herelleviridae", "Bastillevirinae", "Nitunavirus", "G1"),
    ("E1", 15, "Viruses", "", "", "", "Herelleviridae", "Spounavirinae", "Okubovirus", "SPO1"),
]


@pytest.fixture(scope="session")
def phage_nodes(spark):
    return spark.createDataFrame(NODE_ROWS, schemas.PHAGE_NODES).cache()


@pytest.fixture(scope="session")
def shares_dna(spark):
    return spark.createDataFrame(EDGE_ROWS, schemas.SHARES_DNA).cache()


@pytest.fixture(scope="session")
def infects(spark):
    return spark.createDataFrame(INFECTS_ROWS, schemas.INFECTS).cache()


@pytest.fixture(scope="session")
def lineages(spark):
    return spark.createDataFrame(LINEAGE_ROWS, schemas.LINEAGES).cache()
