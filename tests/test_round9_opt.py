"""Round-9 optimization pins: the streaming state-partition window.

The lazy/eager gates of the bounded graph loops are value-gated in
tests/test_graph_loops.py.
"""
from __future__ import annotations


def test_stream_state_partitions_env(spark, monkeypatch):
    """run_available_now restores the session shuffle partitions and the
    env knob actually reaches the streaming query's planning window."""
    from phageclouds_graphdatabase_spark.streaming import events as se

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "3")
    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    )
    rows = se.run_available_now(
        sdf.groupBy("value").count(), output_mode="complete"
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert isinstance(rows, list)
