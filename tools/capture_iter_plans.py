#!/usr/bin/env python
"""Capture per-round physical plans of ITERATIVE operators (guide §1.2/§7.2).

The tail plan of an iterative query is just `Scan ExistingRDD` (the last
checkpoint), so `capture_plans.py` can't show what each round does. This
tool intercepts every checkpoint call (`operators.graph._ckpt`, the loop-state
cut, and raw `DataFrame.localCheckpoint`, the one-off static pins) during one
build+noop run of a suite entry and records the FORMATTED PLAN of the frame
being materialized — i.e. the real per-round join/aggregate plan, Exchange
placement and join strategy included. A `_ckpt` cut is recorded once, not
again for the localCheckpoint it runs inside.

Usage: python tools/capture_iter_plans.py <tag> <query[,query...]>
Writes plans/r09/<name>_rounds_<tag>.txt
"""
from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Spark 4: pyspark.sql.DataFrame is the abstract base; the running local
# session instantiates pyspark.sql.classic.dataframe.DataFrame, whose own
# localCheckpoint would shadow a base-class patch.
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

from phageclouds_graphdatabase_spark.operators import graph as G  # noqa: E402
from phageclouds_graphdatabase_spark.plans.suite import SUITE  # noqa: E402
from phageclouds_graphdatabase_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2].split(",")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r09",
    )
    spark = get_spark("phageclouds-capture-iter-plans")
    spark.sparkContext.setLogLevel("ERROR")

    plans: list[str] = []

    def formatted(df: DataFrame) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    real_ckpt = G._ckpt
    real_local = DataFrame.localCheckpoint

    def spy_ckpt(df, reliable=False):
        plans.append(f"--- ckpt #{len(plans)} ---\n" + formatted(df))
        DataFrame.localCheckpoint = real_local
        try:
            return real_ckpt(df, reliable)
        finally:
            DataFrame.localCheckpoint = spy_local

    def spy_local(df, eager=True):
        plans.append(f"--- localCheckpoint #{len(plans)} ---\n" + formatted(df))
        return real_local(df, eager)

    for name in names:
        plans.clear()
        G._ckpt = spy_ckpt
        DataFrame.localCheckpoint = spy_local
        try:
            SUITE[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        finally:
            G._ckpt = real_ckpt
            DataFrame.localCheckpoint = real_local
        path = os.path.join(out_dir, f"{name}_rounds_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"# per-checkpoint plans for {name} ({tag})\n\n")
            f.write("\n".join(plans))
        print(f"wrote {path} ({len(plans)} checkpoint plans)")


if __name__ == "__main__":
    main()
