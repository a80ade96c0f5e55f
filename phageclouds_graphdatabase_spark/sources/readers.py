"""Scans / sources (SURVEY.md §2.1).

Replaces the reference's bolt connection + Cypher executor
(``/root/reference/phageclouds_gdb.py:9-42``, S1-S3) with Parquet/CSV scans:
the graph lives at rest in columnar Parquet, so predicate pushdown and column
pruning reach the file scan for free (SURVEY.md §4).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from phageclouds_graphdatabase_spark import schemas

# Driver testdata tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# abspath -> (mtime_ns, size, inferred StructType). METADATA cache only
# (round 10, guide §1.2/§6): schema inference reads parquet footers on
# the driver per ``spark.read.parquet`` call — measured 98 ms vs 16 ms
# with an explicit schema at sf0.1, and every suite entry pays it 2-4×
# per construction. Caching the inferred schema is the same class of
# plan-metadata reuse as Spark's own in-session file-listing cache: no
# row, aggregate or result is reused — every run still scans the
# parquet — and an entry is re-inferred on any file change (mtime/size),
# replacing the old one, so the dict holds one entry per path.
_SCHEMA_CACHE: dict[str, tuple] = {}


def _cached_schema(spark: SparkSession, path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    # A directory's own stat does not change when a part file inside it is
    # rewritten in place, so a directory dataset is never cached.
    if stat.S_ISDIR(st.st_mode):
        return None
    key = os.path.abspath(path)
    hit = _SCHEMA_CACHE.get(key)
    if hit is not None and hit[:2] == (st.st_mtime_ns, st.st_size):
        return hit[2]
    schema = spark.read.parquet(path).schema
    _SCHEMA_CACHE[key] = (st.st_mtime_ns, st.st_size, schema)
    return schema


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata Parquet table.

    The events table stores TIMESTAMP(NANOS) which Spark's Parquet reader
    rejects by default; read nanos as long (legacy conf, set defensively at
    runtime so this works under any caller-provided session) and convert to
    a microsecond timestamp -- the same truncation DuckDB applies when it
    coerces TIMESTAMP_NS to TIMESTAMP."""
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _cached_schema(spark, path)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_testdata(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql plans)."""
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_phage_nodes(spark: SparkSession, path: str) -> DataFrame:
    """Node table scan (S1). Declared schema validates on ingest -- an upgrade
    over Neo4j's implicit schema (SURVEY.md §1.2)."""
    return spark.read.schema(schemas.PHAGE_NODES).parquet(path)


def read_shares_dna(spark: SparkSession, path: str) -> DataFrame:
    """Edge table scan. At the 100 TB tier this table is written sorted by
    ``distance`` within files so every ``distance <= t`` predicate prunes
    row groups via Parquet min/max stats (SURVEY.md §4), and bucketed by
    ``src`` so expand joins co-locate."""
    return spark.read.schema(schemas.SHARES_DNA).parquet(path)


def read_infects(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(schemas.INFECTS).parquet(path)


# --------------------------------------------------------------------------
# Bucketed graph catalog (SCALE.md "data layout"): persist the graph tables
# bucketed on their join keys so the hot joins (expand / induced-subgraph /
# components when the node side is too big to broadcast) are SortMergeJoins
# with ZERO Exchange -- proven shuffle-free in tests/test_bucketing.py and
# here wired as the at-rest storage option the pipelines can read from.
# --------------------------------------------------------------------------

# table -> bucket key. Nodes bucket on accession, edges+infects on src, so
# every (edges JOIN nodes ON src=accession) pair is co-located.
GRAPH_BUCKET_KEYS = {
    "phage_nodes": "accession",
    "shares_dna": "src",
    "infects": "src",
}


def write_graph_bucketed(
    frames: dict[str, DataFrame],
    location: str,
    n_buckets: int = 64,
    prefix: str = "pc",
) -> dict[str, str]:
    """Persist graph tables (any subset of GRAPH_BUCKET_KEYS) as bucketed
    catalog tables under ``location``. Returns {logical name: table name}.
    n_buckets sizes to the cluster: at the 100 TB tier pick
    ~2-4x total executor cores so each bucket is one task's worth."""
    out = {}
    for name, df in frames.items():
        key = GRAPH_BUCKET_KEYS[name]
        tbl = f"{prefix}_{name}"
        (
            df.write.mode("overwrite")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", os.path.join(location, tbl))
            .saveAsTable(tbl)
        )
        out[name] = tbl
    return out


def read_graph_bucketed(
    spark: SparkSession, prefix: str = "pc"
) -> dict[str, DataFrame]:
    """Read back whichever bucketed graph tables exist in the catalog.
    Frames carry the bucketing spec, so joins on the bucket key skip the
    shuffle; callers fall back to the plain parquet readers when a table
    is absent."""
    out = {}
    for name in GRAPH_BUCKET_KEYS:
        tbl = f"{prefix}_{name}"
        if spark.catalog.tableExists(tbl):
            out[name] = spark.table(tbl)
    return out


# --------------------------------------------------------------------------
# Neo4j live connector (S1 optional path): read the reference's ACTUAL
# database through the Neo4j Spark Connector instead of Parquet exports.
# The option layout mirrors the reference's bolt connection
# (/root/reference/phageclouds_gdb.py:9-42: bolt URL + basic auth) and its
# graph model (:Phage nodes, [:sharesDNA] relationships). Requires the
# org.neo4j.spark connector jar on the classpath; read_neo4j_* raise
# Spark's DATA_SOURCE_NOT_FOUND otherwise (contract-tested either way).
# --------------------------------------------------------------------------

NEO4J_FORMAT = "org.neo4j.spark"


def neo4j_options(url: str, user: str, password: str) -> dict[str, str]:
    return {
        "url": url,
        "authentication.type": "basic",
        "authentication.basic.username": user,
        "authentication.basic.password": password,
    }


def read_neo4j_phage_nodes(
    spark: SparkSession, url: str, user: str, password: str
) -> DataFrame:
    """:Phage node table via the connector's labels mode (pushes property
    projection into Cypher server-side)."""
    return (
        spark.read.format(NEO4J_FORMAT)
        .options(**neo4j_options(url, user, password))
        .option("labels", ":Phage")
        .load()
    )


def read_neo4j_shares_dna(
    spark: SparkSession, url: str, user: str, password: str
) -> DataFrame:
    """[:sharesDNA] edge table via relationship mode; source/target node ids
    map onto the (src, dst, distance) edge convention."""
    return (
        spark.read.format(NEO4J_FORMAT)
        .options(**neo4j_options(url, user, password))
        .option("relationship", "sharesDNA")
        .option("relationship.source.labels", ":Phage")
        .option("relationship.target.labels", ":Phage")
        .load()
        .selectExpr(
            "`source.accession` AS src",
            "`target.accession` AS dst",
            "`rel.distance` AS distance",
        )
    )


def read_lineages_csv(spark: SparkSession, path: str) -> DataFrame:
    """Taxonomy dimension (S4/S5): the committed lineages CSV *is* the dim
    table that replaces per-row ete3 sqlite lookups
    (``/root/reference/phageclouds_gdb_family.py:48-54,69-76``). Small enough
    to broadcast in every join."""
    return spark.read.csv(path, header=True, schema=schemas.LINEAGES)


def read_acc_taxid(spark: SparkSession, path: str) -> DataFrame:
    """accession->taxid mapping (headerless CSV), the broadcast equivalent of
    the dict at ``/root/reference/phageclouds_gdb_family.py:101-102`` (J6)."""
    return spark.read.csv(path, header=False, schema=schemas.ACC_TAXID)


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema
) -> tuple[DataFrame, DataFrame]:
    """Fail-open JSONL ingestion (S4 for the crawl/training-data path):
    PERMISSIVE parse against a declared schema with the raw line of every
    malformed record captured in ``_corrupt_record``. Returns
    ``(good, quarantined)`` — good rows with the corrupt column dropped, and
    the quarantined raw lines for a dead-letter sink. At 100 TB a bad
    shard must never kill the job NOR silently vanish: both halves come
    from ONE pass over the input (same cached scan), and the quarantine
    count is the data-quality metric to alert on.

    Spark quirk handled here: with a corrupt-record column, referencing
    ONLY ``_corrupt_record`` in a filter is disallowed (the parser would
    have nothing to fail on), so both branches filter with the column
    alongside a real data column reference.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    full = StructType(
        list(schema.fields) + [StructField("_corrupt_record", StringType())]
    )
    raw = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()
    )
    good = raw.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    quarantined = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return good, quarantined


def write_orc(df: DataFrame, path: str) -> None:
    """S7 alternate columnar sink: ORC with zstd — the interchange format
    for Hive/Trino-resident warehouses. Same predicate-pushdown +
    column-pruning behavior as parquet at scan time."""
    df.write.mode("overwrite").option("compression", "zstd").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """S4 alternate columnar scan; vectorized reader, min/max row-group
    skipping, and partition pruning all apply as with parquet."""
    return spark.read.orc(path)
