"""Structured Streaming tests (W3): each streaming plan runs over the events
parquet with Trigger.AvailableNow and must agree with its batch twin from
plans/suite_extensions.py (stream-batch parity is the correctness contract
for every streaming operator). The run harness ``run_available_now`` is
pinned too: it leaves no temp view, and its derived state-partition count
reaches the query."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from phageclouds_graphdatabase_spark.plans import suite_extensions as ext
from phageclouds_graphdatabase_spark.sources.readers import read_table
from phageclouds_graphdatabase_spark.streaming import events as stream

from conftest import SF_DIR


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return stream.read_events_stream(spark, sf_dir)


def test_interval_ms_parses_units():
    # round-3 ADVICE: gap="30 seconds" used to arm timers 30 MINUTES out
    # (leading int * 60_000 regardless of unit)
    assert stream._interval_ms("30 seconds") == 30_000
    assert stream._interval_ms("5 minutes") == 300_000
    assert stream._interval_ms("1 hour") == 3_600_000
    assert stream._interval_ms("250 milliseconds") == 250
    assert stream._interval_ms("2 days") == 172_800_000
    with pytest.raises(ValueError, match="unknown unit"):
        stream._interval_ms("3 fortnights")
    with pytest.raises(ValueError, match="expected"):
        stream._interval_ms("5")


def test_stream_is_streaming(events_stream):
    assert events_stream.isStreaming


def test_tumbling_counts_match_batch(spark, sf_dir, events_stream):
    # Append mode would (correctly) hold back windows the watermark hasn't
    # passed; complete mode emits the full table for whole-run parity.
    got = stream.run_available_now(
        stream.tumbling_counts(events_stream), output_mode="complete"
    )
    want = (
        ext.events_tumbling_window(spark, sf_dir)
        .select("window_start", "event_type", "n_events")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_session_counts_match_batch(spark, sf_dir, events_stream):
    got = stream.run_available_now(
        stream.session_counts(events_stream), output_mode="complete"
    )
    want = ext.events_session_window(spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(
        (r.user_id, r.session_start, r.n_events) for r in want
    )


def test_stream_dedup_unique_event_ids(spark, sf_dir, events_stream):
    got = stream.run_available_now(stream.stream_dedup(events_stream))
    ids = [r.event_id for r in got]
    assert len(ids) == len(set(ids))
    n_distinct = (
        read_table(spark, sf_dir, "events").select("event_id").distinct().count()
    )
    assert len(ids) == n_distinct


def test_stream_static_join_matches_batch(spark, sf_dir, events_stream):
    cust = read_table(spark, sf_dir, "customer")
    got = stream.run_available_now(
        stream.stream_static_segment_counts(events_stream, cust),
        output_mode="complete",
    )
    want = (
        read_table(spark, sf_dir, "events")
        .join(
            cust.select(F.col("c_custkey").alias("user_id"), "c_mktsegment"),
            "user_id",
        )
        .groupBy("c_mktsegment", "event_type")
        .count()
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(
        (r.c_mktsegment, r.event_type, r["count"]) for r in want
    )


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    p = stream.read_events_stream(spark, sf_dir)
    c = stream.read_events_stream(spark, sf_dir)
    got = stream.run_available_now(
        stream.purchase_click_pairs(p, c), output_mode="append"
    )
    e = read_table(spark, sf_dir, "events")
    pb = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    cb = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("c_ts"),
    )
    want = (
        pb.join(cb, "user_id")
        .filter(
            (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("c_ts") <= F.col("p_ts"))
        )
        .select("purchase_id", "click_id", "user_id")
        .collect()
    )
    assert len(got) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_transform_with_state_matches_apply_in_pandas_with_state(spark, sf_dir):
    """Differential test: the Spark 4 StatefulProcessor implementation must
    produce the same final per-user totals as the applyInPandasWithState
    one (and hence the batch aggregation). transformWithStateInPandas
    speaks protobuf to its state server, so it needs google.protobuf --
    absent in this container; the implementation is exercised wherever the
    dependency exists."""
    pytest.importorskip("google.protobuf.descriptor")
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        got = stream.run_available_now(
            stream.running_user_totals_tws(stream.read_events_stream(spark, sf_dir)),
            output_mode="update",
        )
    finally:
        if old:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    final = {}
    for r in got:
        final[r.user_id] = (r.n_events, r.sum_value_cents)
    want_rows = stream.run_available_now(
        stream.running_user_totals(stream.read_events_stream(spark, sf_dir)),
        output_mode="update",
    )
    want = {}
    for r in want_rows:
        want[r.user_id] = (r.n_events, r.sum_value_cents)
    assert final == want and len(final) > 0


def test_foreach_batch_exactly_once(spark, sf_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    s = stream.read_events_stream(spark, sf_dir)
    n1 = stream.run_foreach_batch_parquet(stream.stream_dedup(s), out, ckpt)
    assert n1 >= 1
    written = spark.read.parquet(out)
    n_distinct = (
        read_table(spark, sf_dir, "events").select("event_id").distinct().count()
    )
    assert written.count() == n_distinct
    # Re-run over the SAME checkpoint: source offsets are committed, so no
    # micro-batch re-executes and the output is unchanged (exactly-once).
    s2 = stream.read_events_stream(spark, sf_dir)
    n2 = stream.run_foreach_batch_parquet(stream.stream_dedup(s2), out, ckpt)
    assert n2 == 0
    assert spark.read.parquet(out).count() == n_distinct


def test_running_user_totals_stateful(spark, sf_dir, events_stream):
    got = stream.run_available_now(
        stream.running_user_totals(events_stream), output_mode="update"
    )
    # Update-mode emits one row per user per micro-batch; the LAST row per
    # user carries the final running totals -- compare against batch.
    final = {}
    for r in got:
        final[r.user_id] = (r.n_events, r.sum_value_cents)
    e = read_table(spark, sf_dir, "events")
    want = {
        r.user_id: (r.n, r.s)
        for r in e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("long")).alias("s"),
        )
        .collect()
    }
    assert final == want


def test_streaming_component_merge_matches_batch(spark, tmp_path):
    """Streaming graph ingestion (streaming/graph.py): per-file micro-batches
    of edges fold into versioned membership state via merge_components; the
    final state must equal a batch components recompute over ALL edges, and
    a rerun over the same checkpoint must be a no-op (exactly-once)."""
    from phageclouds_graphdatabase_spark.operators.graph import (
        connected_components,
    )
    from phageclouds_graphdatabase_spark.streaming import graph as sgraph

    schema = "src string, dst string, distance double"
    b1 = [("a", "b", 0.1), ("c", "d", 0.1)]
    b2 = [("b", "c", 0.1), ("x", "y", 0.1)]
    b3 = [("d", "x", 0.1)]
    src_dir = str(tmp_path / "edges")
    for i, rows in enumerate([b1, b2, b3]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    stream_df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    n = sgraph.run_streaming_component_merge(stream_df, state, ckpt)
    assert n >= 1
    got = sorted(
        map(tuple, sgraph.read_membership(spark, state).collect())
    )
    want = sorted(
        map(
            tuple,
            connected_components(
                spark.createDataFrame(b1 + b2 + b3, schema)
            ).collect(),
        )
    )
    assert got == want  # everything merged into one component + (x,y) chain
    # rerun over the same checkpoint: no batches, state unchanged
    stream_df2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    assert sgraph.run_streaming_component_merge(stream_df2, state, ckpt) == 0
    assert sorted(
        map(tuple, sgraph.read_membership(spark, state).collect())
    ) == want


def test_membership_time_travel(spark, tmp_path):
    """read_membership(version=N) returns the state as of micro-batch N."""
    from phageclouds_graphdatabase_spark.streaming import graph as sgraph

    schema = "src string, dst string, distance double"
    src_dir = str(tmp_path / "edges")
    for rows in ([("a", "b", 0.1)], [("b", "c", 0.1)]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
    state = str(tmp_path / "state")
    stream_df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    sgraph.run_streaming_component_merge(stream_df, state, str(tmp_path / "c"))
    v0 = {r.id: r.component for r in
          sgraph.read_membership(spark, state, version=0).collect()}
    vN = {r.id: r.component for r in
          sgraph.read_membership(spark, state).collect()}
    assert set(v0) == {"a", "b"}          # after batch 0: only the first edge
    assert set(vN) == {"a", "b", "c"}     # final: merged chain
    assert vN["c"] == vN["a"]


def test_tws_protobuf_reaches_workers_post_jvm(tmp_path):
    """Regression for the round-2 driver red (CORRECTNESS_r02
    stream_user_totals_tws): an external harness builds its SparkSession
    BEFORE importing this package, so vendor.ensure_protobuf()'s
    os.environ["PYTHONPATH"] edit never reaches the JVM and the
    transformWithStateInPySpark driver worker crashes on `import
    google.protobuf`. The fix routes protomini through
    sc.environment["PYTHONPATH"] (UDF envVars) post-JVM. Reproduced here in
    a subprocess with a scrubbed PYTHONPATH and the harness's exact
    session-first ordering."""
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "driver_order.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.sql.shuffle.partitions', '4')\n"
        "         .config('spark.ui.showConsoleProgress', 'false')\n"
        "         .config('spark.ui.enabled', 'false')\n"
        "         .getOrCreate())\n"
        "import __spark_entry__ as e\n"
        "df = e.queries()['stream_user_totals_tws'](spark, "
        f"{SF_DIR!r})\n"
        "print('TWS_POST_JVM_ROWS', df.count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [_sys.executable, str(script)],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert "TWS_POST_JVM_ROWS" in out.stdout, out.stderr[-4000:]
    n = int(out.stdout.split("TWS_POST_JVM_ROWS")[1].split()[0])
    assert n > 0


def test_tws_restart_resumes_state(spark, tmp_path):
    """transformWithStateInPandas restart contract (VERDICT_r2 ask #9): run
    the StatefulProcessor over batch 0 with a durable checkpoint, let the
    query terminate, append batch 1, then start a NEW query over the SAME
    checkpoint. The RocksDB-backed ValueState must survive the restart
    (user 1's running totals include batch 0) and batch 0's offsets must
    not be reprocessed (user 2, untouched by batch 1, emits nothing in
    update mode on the second run)."""
    import datetime as dt

    from phageclouds_graphdatabase_spark.vendor import (
        ensure_protobuf_on_workers,
    )

    assert ensure_protobuf_on_workers(spark)
    old = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(rows):
        spark.createDataFrame(rows, stream.EVENTS_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(src)

    def run_once():
        got: list = []

        def capture(batch_df, batch_id):
            got.extend(batch_df.collect())

        sdf = (
            spark.readStream.schema(stream.EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.running_user_totals_tws(sdf)
            .writeStream.foreachBatch(capture)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        return {r.user_id: (r.n_events, r.sum_value_cents) for r in got}

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    try:
        write_batch(
            [
                (1, t0, 1, "click", 1.0, "{}"),
                (2, t0, 1, "click", 2.0, "{}"),
                (3, t0, 2, "view", 5.0, "{}"),
            ]
        )
        first = run_once()
        assert first == {1: (2, 300), 2: (1, 500)}

        write_batch(
            [
                (4, t0, 1, "click", 3.0, "{}"),
                (5, t0, 3, "view", 7.0, "{}"),
            ]
        )
        second = run_once()
        # user 1: state restored from the checkpointed store (2+1 events,
        # 300+300 cents); user 3 fresh; user 2 absent => batch 0 was not
        # reprocessed after the restart.
        assert second == {1: (3, 600), 3: (1, 700)}
    finally:
        if old:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", old
            )
        else:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass"
            )


@pytest.fixture()
def rocksdb_provider(spark):
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    yield
    if old:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
    else:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_tws_mapstate_type_counts_match_batch(
    spark, sf_dir, rocksdb_provider
):
    """MapState StatefulProcessor: final per-(user, type) counts equal the
    batch groupBy — exercising UpdateValue/GetValue/ContainsKey through the
    state-server protobuf channel."""
    from phageclouds_graphdatabase_spark.vendor import (
        ensure_protobuf_on_workers,
    )

    assert ensure_protobuf_on_workers(spark)
    got = stream.run_available_now(
        stream.running_type_counts_tws(
            stream.read_events_stream(spark, sf_dir)
        ),
        output_mode="update",
    )
    final = {}
    for r in got:
        final[(r.user_id, r.event_type)] = r.n
    e = read_table(spark, sf_dir, "events")
    want = {
        (r.user_id, r.event_type): r.n
        for r in e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert final == want and len(final) > 0


def test_tws_liststate_event_log_matches_batch(
    spark, sf_dir, rocksdb_provider
):
    """ListState StatefulProcessor: totals recomputed from the persisted
    list equal the batch aggregation — exercising AppendList + the list
    iterator's paged reads."""
    from phageclouds_graphdatabase_spark.vendor import (
        ensure_protobuf_on_workers,
    )

    assert ensure_protobuf_on_workers(spark)
    got = stream.run_available_now(
        stream.user_event_log_tws(stream.read_events_stream(spark, sf_dir)),
        output_mode="update",
    )
    final = {}
    for r in got:
        final[r.user_id] = (r.n_events, r.sum_value_cents)
    e = read_table(spark, sf_dir, "events")
    want = {
        r.user_id: (r.n, r.s)
        for r in e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("long")).alias(
                "s"
            ),
        )
        .collect()
    }
    assert final == want


def test_tws_timer_flush(spark, tmp_path, rocksdb_provider):
    """Processing-time timers (the idle-key flush pattern): each batch arms
    an already-due timer, so a key's accumulated totals flush at the START
    of the next batch's timer phase (before that batch's input), and keys
    from the final input batch flush in AvailableNow's state-cleanup
    batches. Pending timers keep the query alive, so the test polls the
    sink for convergence and stops the query (measured Spark 4.1
    semantics, documented on flush_on_timer_tws)."""
    import datetime as dt
    import time
    import uuid

    from phageclouds_graphdatabase_spark.vendor import (
        ensure_protobuf_on_workers,
    )

    assert ensure_protobuf_on_workers(spark)
    src = str(tmp_path / "src")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def wb(rows):
        spark.createDataFrame(rows, stream.EVENTS_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(src)

    wb([(1, t0, 1, "c", 1.0, "{}"), (2, t0, 2, "c", 2.0, "{}")])
    wb([(3, t0, 1, "c", 3.0, "{}")])
    wb([(4, t0, 99, "c", 7.0, "{}")])
    sdf = (
        spark.readStream.schema(stream.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = "t" + uuid.uuid4().hex[:12]
    q = (
        stream.flush_on_timer_tws(sdf)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    want = [(1, 1, 100), (1, 1, 300), (2, 1, 200), (99, 1, 700)]
    got: list = []
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            got = sorted(map(tuple, spark.table(name).collect()))
            if got == want or not q.isActive:
                break
            time.sleep(2)
    finally:
        q.stop()
    # user 1: batch-0 totals flushed by batch 1's timer phase (BEFORE its
    # input), batch-1 totals flushed by batch 2; users 2/99 flushed once.
    assert got == want


def test_chained_join_then_window_matches_batch(spark, sf_dir):
    """Chained stateful operators (stream-stream join -> windowed agg,
    SPARK-42376): the appended rows must equal the batch join + window
    aggregation restricted to windows the terminal watermark finalized
    (window_end <= min(max purchase ts, max click ts) - 10 min)."""
    import datetime as dt

    p = stream.read_events_stream(spark, sf_dir)
    c = stream.read_events_stream(spark, sf_dir)
    got = stream.run_available_now(
        stream.purchase_click_window_counts(p, c), output_mode="append"
    )

    e = read_table(spark, sf_dir, "events")
    pur = e.filter(F.col("event_type") == "purchase").alias("p")
    clk = e.filter(F.col("event_type") == "click").alias("c")
    pairs = pur.join(
        clk,
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c.ts") <= F.col("p.ts")),
    )
    full = (
        pairs.groupBy(
            F.window(F.col("p.ts"), "10 minutes").alias("win"),
            F.col("p.user_id").alias("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(F.col("win.start").alias("window_start"), "user_id", "n_pairs")
    )
    wm = min(
        pur.agg(F.max("ts")).collect()[0][0],
        clk.agg(F.max("ts")).collect()[0][0],
    ) - dt.timedelta(minutes=10)
    want = full.filter(
        F.col("window_start") + F.expr("INTERVAL 10 MINUTES") <= F.lit(wm)
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(want) > 0


def test_tws_event_time_timer_session_flush(spark, tmp_path, rocksdb_provider):
    """EVENT-time timers (the custom-session-window pattern): totals flush
    when the WATERMARK passes last-event-time + gap. user1's session
    (12:00-12:02, timer 12:07) flushes once the 12:30 batch advances the
    watermark; user2's (12:30, timer 12:35) flushes after the 13:00 batch;
    user3's timer (13:05) lies beyond the final watermark (13:00) and
    never fires — exactly session_window's append semantics."""
    import datetime as dt
    import time
    import uuid

    from phageclouds_graphdatabase_spark.vendor import (
        ensure_protobuf_on_workers,
    )

    assert ensure_protobuf_on_workers(spark)
    src = str(tmp_path / "src")
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m, 0)

    def wb(rows):
        spark.createDataFrame(rows, stream.EVENTS_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(src)

    wb([(1, t(12, 0), 1, "c", 1.0, "{}"), (2, t(12, 2), 1, "c", 2.0, "{}")])
    wb([(3, t(12, 30), 2, "c", 3.0, "{}")])
    wb([(4, t(13, 0), 3, "c", 4.0, "{}")])
    sdf = (
        spark.readStream.schema(stream.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = "t" + uuid.uuid4().hex[:12]
    q = (
        stream.session_flush_event_timer_tws(sdf)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    want = [(1, 2, 300), (2, 1, 300)]
    got: list = []
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            got = sorted(map(tuple, spark.table(name).collect()))
            if got == want or not q.isActive:
                break
            time.sleep(2)
    finally:
        q.stop()
    assert got == want


def test_run_available_now_leaves_no_temp_view(spark):
    """The memory sink registers its rows as a temporary view; a run must
    drop it, or every call leaves a view holding its rows in the session."""

    def temp_tables():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_tables()
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 5)
        .load()
    )
    assert stream.run_available_now(src)
    assert temp_tables() == before


def test_stream_state_partitions_reach_query(spark, monkeypatch):
    """run_available_now plans the streaming query with the derived
    state-partition count, and the session's own shuffle partitions are
    back once the query has started."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    agg = stream.read_events_stream(spark, SF_DIR).groupBy("user_id").count()
    vol = stream._stream_source_bytes(agg)
    # a target in (vol/3, vol/2] derives 3 state partitions; the test
    # session runs with 8
    monkeypatch.setattr(stream, "STREAM_STATE_TARGET_BYTES", vol // 2)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    assert prev != "3"
    queries = []
    real_start = DataStreamWriter.start

    def start(self, *args, **kwargs):
        queries.append(real_start(self, *args, **kwargs))
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        return queries[-1]

    monkeypatch.setattr(DataStreamWriter, "start", start)
    assert stream.run_available_now(agg, output_mode="complete")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    (q,) = queries
    parts = {
        op.numShufflePartitions
        for p in q.recentProgress
        for op in p.stateOperators
    }
    assert parts == {3}


def test_stream_source_bytes_and_derived_partitions(spark, monkeypatch):
    s = stream.read_events_stream(spark, SF_DIR)
    want = os.path.getsize(f"{SF_DIR}/events.parquet")
    assert stream._stream_source_bytes(s.groupBy("user_id").count()) == want
    # the derived count (one state partition at the default target) and
    # a tiny target (clamped to the session's count) give the same rows
    # on a stateful aggregation
    agg = s.withWatermark("ts", "10 minutes").groupBy("user_id").count()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    derived = sorted(map(tuple, stream.run_available_now(agg, "update")))
    monkeypatch.setattr(stream, "STREAM_STATE_TARGET_BYTES", 1)
    clamped = sorted(map(tuple, stream.run_available_now(agg, "update")))
    assert derived == clamped
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
