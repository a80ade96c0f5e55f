"""Sources & sinks (SURVEY.md §2.1): golden HTML parser, vis HTML sink
round-trip, columnar sinks, lineages/acc_taxid CSV readers, derive helpers."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from phageclouds_graphdatabase_spark.functions import derive
from phageclouds_graphdatabase_spark.sources import golden, readers, sinks

REFERENCE = "/root/reference"
HAS_REFERENCE = os.path.exists(os.path.join(REFERENCE, "phages.accessions.lineages.csv"))


def test_underscored_thousands_matches_python_format(spark):
    vals = [0, 999, 1000, 48502, 168000, 1234567]
    df = spark.createDataFrame([(v,) for v in vals], "n long").select(
        "n", derive.underscored_thousands(F.col("n")).alias("s")
    )
    got = {r.n: r.s for r in df.collect()}
    assert got == {v: f"{v:_}" for v in vals}


def test_node_size_truncates_like_python_int(spark):
    df = spark.createDataFrame([(48502,), (3000,), (2999,)], "g long").select(
        derive.node_size(F.col("g")).alias("s")
    )
    assert [r.s for r in df.collect()] == [int(48502 / 3000), 1, 0]


def test_source_hex_strict_raises_on_unknown(spark):
    df = spark.createDataFrame([("Mystery",)], "source string")
    lax = df.select(derive.source_hex_color(F.col("source")).alias("c")).collect()
    assert lax[0].c is None
    with pytest.raises(Exception, match="unknown source"):
        df.select(
            derive.source_hex_color(F.col("source"), strict=True).alias("c")
        ).collect()


def test_vis_html_sink_roundtrips_through_golden_parser(spark, tmp_path):
    nodes = spark.createDataFrame(
        [("X1", "green", "#000000", 12, "t<br>x"), ("X2", "red", "#000000", 9, None)],
        "id string, color_background string, color_border string, size int, title string",
    )
    edges = spark.createDataFrame(
        [("X1", "X2", 0.1, 0.25, "lightgray")],
        "src string, dst string, weight double, value double, color string",
    )
    path = str(tmp_path / "out.html")
    sinks.write_vis_html(nodes, edges, path)
    n2, e2 = golden.golden_frames(spark, path)
    assert {(r.id, r.color_background, r.size, r.title) for r in n2.collect()} == {
        ("X1", "green", 12, "t<br>x"),
        ("X2", "red", 9, None),
    }
    assert [(r.src, r.dst, r.weight, r.value) for r in e2.collect()] == [
        ("X1", "X2", 0.1, 0.25)
    ]


def test_read_table_schema_cache(spark, sf_dir, tmp_path):
    # read_table caches INFERRED SCHEMAS per path, keyed on (mtime, size):
    # metadata only; a changed file re-infers and replaces its entry
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(f"{sf_dir}/nation.parquet", d / "nation.parquet")
    a = readers.read_table(spark, str(d), "nation")
    n_cached = len(readers._SCHEMA_CACHE)
    b = readers.read_table(spark, str(d), "nation")
    assert len(readers._SCHEMA_CACHE) == n_cached  # second read hit the cache
    assert a.schema == b.schema
    assert a.count() == b.count() == 25
    # replacing the file invalidates (different size/mtime) and replaces
    # the entry rather than adding one per file version
    shutil.copy(f"{sf_dir}/region.parquet", d / "nation.parquet")
    os.utime(d / "nation.parquet")
    c = readers.read_table(spark, str(d), "nation")
    assert [f.name for f in c.schema.fields] != [
        f.name for f in a.schema.fields
    ]
    assert len(readers._SCHEMA_CACHE) == n_cached
    # a directory dataset: rewriting a part file in place leaves the
    # directory's own stat unchanged, so its schema must not be cached
    part = d / "tbl.parquet" / "part-0.parquet"
    part.parent.mkdir()
    pq.write_table(pa.table({"x": [1, 2]}), part)
    assert readers.read_table(spark, str(d), "tbl").columns == ["x"]
    pq.write_table(pa.table({"y": ["a"], "z": [1.5]}), part)
    assert readers.read_table(spark, str(d), "tbl").columns == ["y", "z"]
    # events path: ts-unit sniffing still works through the cache
    ev = readers.read_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] in ("timestamp", "timestamp_ntz")
    ev2 = readers.read_table(spark, sf_dir, "events")
    assert ev2.schema == ev.schema


def test_threshold_slug():
    assert sinks.threshold_slug(0.25) == "025"
    assert sinks.threshold_slug(0.1) == "01"


def test_parquet_sink_partitioned(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    out = str(tmp_path / "p")
    sinks.write_parquet(df, out, partition_by=["k"])
    assert sorted(os.path.basename(p) for p in glob.glob(out + "/k=*")) == ["k=a", "k=b"]
    back = spark.read.parquet(out)
    assert {(r.k, r.v) for r in back.collect()} == {("a", 1), ("b", 2)}


@pytest.mark.skipif(not HAS_REFERENCE, reason="reference data absent")
def test_lineages_csv_reader_profile(spark):
    lin = readers.read_lineages_csv(
        spark, os.path.join(REFERENCE, "phages.accessions.lineages.csv")
    )
    # BASELINE.md profile: 14,065 rows, 33 non-empty families, 692 genera.
    assert lin.count() == 14065
    fam = lin.filter((F.col("family") != "") & F.col("family").isNotNull())
    assert fam.select("family").distinct().count() == 33
    gen = lin.filter((F.col("genus") != "") & F.col("genus").isNotNull())
    assert gen.select("genus").distinct().count() == 692


@pytest.mark.skipif(not HAS_REFERENCE, reason="reference data absent")
def test_acc_taxid_reader(spark):
    at = readers.read_acc_taxid(
        spark, os.path.join(REFERENCE, "phages.accessions.txt.taxid")
    )
    assert at.count() == 14065
    assert at.columns == ["accession", "taxid"]


@pytest.mark.skipif(not HAS_REFERENCE, reason="reference goldens absent")
def test_all_goldens_parse_to_baseline_cardinalities(spark):
    # BASELINE.md golden table.
    expected = {
        "Tequatrovirus_015_clouds.html": (156, 11504),
        "Tequatrovirus_025_clouds.html": (264, 23247),
        "Ackermannviridae_015_genus_clouds.html": (137, 2349),
        "Herelleviridae_015_genus_clouds.html": (292, 3761),
        "Herelleviridae_025_subfamily_clouds.html": (341, 4568),
        "Cellulophaga_025_clouds_v2.html": (60, 111),
        "Cellulophaga_025_clouds_v2_harsh.html": (33, 72),
        "Pseudomonas_01_clouds_v2_harsh.html": (476, 7395),
        "Salmonella_01_malaysia_harsh.html": (1086, 30933),
    }
    for fname, (nn, ne) in expected.items():
        path = os.path.join(REFERENCE, fname)
        if not os.path.exists(path):
            continue
        nodes, edges = golden.parse_vis_html(path)
        assert (len(nodes), len(edges)) == (nn, ne), fname


def test_neo4j_admin_csv_export(spark, tmp_path):
    import csv as _csv
    import glob

    from phageclouds_graphdatabase_spark.sources.sinks import (
        write_neo4j_admin_csv,
    )

    nodes = spark.createDataFrame(
        [("ACC1", "NCBI", 40000), ("ACC2", "Tara", 38000)],
        "accession string, source string, genome_size long",
    )
    edges = spark.createDataFrame(
        [("ACC1", "ACC2", 0.12)], "src string, dst string, distance double"
    )
    out = str(tmp_path / "bulk")
    write_neo4j_admin_csv(nodes, edges, out)

    nrows = []
    for p in glob.glob(out + "/nodes/part-*.csv"):
        with open(p, newline="") as f:
            r = list(_csv.reader(f))
            assert r[0] == ["accession:ID", "source", "genome_size", ":LABEL"]
            nrows += r[1:]
    assert sorted(nrows) == [
        ["ACC1", "NCBI", "40000", "PhageGenome"],
        ["ACC2", "Tara", "38000", "PhageGenome"],
    ]
    erows = []
    for p in glob.glob(out + "/relationships/part-*.csv"):
        with open(p, newline="") as f:
            r = list(_csv.reader(f))
            assert r[0] == [":START_ID", "distance", ":END_ID", ":TYPE"]
            erows += r[1:]
    assert erows == [["ACC1", "0.12", "ACC2", "sharesDNA"]]


def test_jsonl_quarantine_split(spark, tmp_path):
    """read_jsonl_quarantine: well-formed lines parse against the declared
    schema; malformed lines (bad JSON, type mismatch under FAILFAST rules)
    land in the quarantine with their raw text — one pass, nothing lost."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from phageclouds_graphdatabase_spark.sources.readers import (
        read_jsonl_quarantine,
    )

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        'this is not json\n'
        '{"doc_id": 2, "text": "beta"}\n'
        '{"doc_id": "oops", "text": "gamma"}\n'
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    good, bad = read_jsonl_quarantine(spark, str(p), schema)
    assert sorted((r.doc_id, r.text) for r in good.collect()) == [
        (1, "alpha"),
        (2, "beta"),
    ]
    bad_lines = sorted(r.raw_line for r in bad.collect())
    assert len(bad_lines) == 2
    assert "not json" in bad_lines[1] or "not json" in bad_lines[0]
    assert any("oops" in b for b in bad_lines)
    assert good.columns == ["doc_id", "text"]


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    """ORC sink/scan round-trip on the part table, and the scan must keep
    predicate pushdown (filters reach the OrcScan, same as parquet)."""
    from phageclouds_graphdatabase_spark.sources.readers import (
        read_orc,
        read_table,
        write_orc,
    )

    part = read_table(spark, sf_dir, "part")
    out = str(tmp_path / "part_orc")
    write_orc(part, out)
    back = read_orc(spark, out)
    assert back.count() == part.count()
    assert sorted(back.columns) == sorted(part.columns)
    filtered = back.filter(F.col("p_size") > 40).select("p_partkey", "p_size")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "p_size" in plan.split(
        "PushedFilters"
    )[1].split("]")[0], plan
    want = part.filter(F.col("p_size") > 40).count()
    assert filtered.count() == want
