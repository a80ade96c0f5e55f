"""Near-duplicate detection operators shared by the pipeline suite
(SURVEY.md §2.6 W5; BACKLOG "salting wired into hot paths").

The inverted-index self-join is the scalable shape for n-gram Jaccard, but
its cost is sum(df^2) over shingle document-frequencies: one viral shingle
("click here to" at web scale) makes one reducer quadratic. The standard
production fix -- used here -- is a FREQUENCY CAP, which subsumes salting
for this operator:

1. candidate generation drops shingles with df > freq_cap (they carry
   almost no Jaccard discrimination but dominate join cost), bounding any
   reducer's work by freq_cap^2;
2. exact VERIFICATION re-joins the candidate pairs against the FULL
   shingle sets, so reported intersection counts and jaccard values are
   exact, not capped approximations.

The only semantic difference vs the uncapped single-pass join is recall:
a pair whose shared shingles are ALL hot is never generated. At a sane cap
that means "documents that only share boilerplate", which is the pair a
dedup pipeline wants to ignore anyway. The verification join groups by the
(doc_a, doc_b) pair key -- naturally high-cardinality, combiner-reduced,
no skew to salt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from phageclouds_graphdatabase_spark.operators.graph import _ckpt


def jaccard_pairs_capped(
    shingles: DataFrame,
    min_jaccard: float = 0.03,
    freq_cap: int | None = None,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Near-duplicate (doc_a, doc_b, n_shared, jaccard) pairs from a
    (doc_id, shingle) relation. With ``freq_cap=None`` this is exactly the
    uncapped inverted-index join; with a cap, candidates come from the
    pruned index and values from full-set verification (see module doc).

    The hot-shingle list is tiny (df > cap keys only) -> broadcast
    anti-join, no shuffle added to the index side."""
    # materialize ONCE: the distinct shingle relation feeds FOUR subplans
    # (sizes, the pruned index, and both verification sides) — Catalyst
    # re-derives the tokenize+explode lineage for each otherwise (measured
    # 2.66 s -> ~1.9 s at sf0.1 in the headline bench). Round 9: on the
    # CAPPED path an EAGER localCheckpoint instead of cache() — the lazy
    # cache races when the hot-list broadcast build and the candidate side
    # start concurrently (both computed the full tokenize+explode+distinct,
    # measured as twin 10.1 s + 5.6 s executor-time stages at sf0.1;
    # alternating A/B min 2.21/2.06 → 1.78/1.86 s). The UNCAPPED path keeps
    # cache(): it has no concurrent first consumers, and the same A/B
    # showed the eager materialization slightly LOSES there (serializes a
    # pass the lazy plan overlaps; min 1.18 → 1.20 s, medians +0.15).
    # ``reliable_checkpoint`` (ADVICE r9 low): localCheckpoint truncates
    # lineage, so on clusters with executor churn (spot nodes, dynamic
    # allocation) losing a host fails the query instead of recomputing —
    # cluster callers opt into the SparkContext checkpoint dir here through
    # the graph operators' _ckpt, which raises a ValueError when none is set.
    sh = shingles.select("doc_id", "shingle").distinct()
    if freq_cap is not None:
        sh = _ckpt(sh, reliable_checkpoint)
    else:
        sh = sh.cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    index = sh
    if freq_cap is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > freq_cap)
            .select("shingle")
        )
        index = sh.join(F.broadcast(hot), "shingle", "left_anti")

    a, b = index.alias("a"), index.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    # Exact verification over the full (uncapped) shingle sets. Both joins
    # are equi-joins -- the second on (doc_b, shingle) -- so no per-pair
    # cross product of shingle sets ever materializes.
    fa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("_sa"))
    fb = sh.select(F.col("doc_id").alias("_db"), F.col("shingle").alias("_sb"))
    shared = (
        cand.join(fa, "doc_a")
        .join(
            fb,
            (F.col("doc_b") == F.col("_db")) & (F.col("_sa") == F.col("_sb")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )

    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "n_shared", "jaccard")
    )
