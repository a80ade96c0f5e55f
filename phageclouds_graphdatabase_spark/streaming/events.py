"""Structured Streaming over the events table (SURVEY.md §2.6 W3).

The reference is batch-only; this is the [ext] streaming surface: the same
transformations as the batch twins in plans/suite_extensions.py, expressed
over ``readStream`` so they run identically on a live source. Each builder
takes a streaming DataFrame and returns a streaming DataFrame; ``run_*``
helpers execute them over the file source with ``Trigger.AvailableNow`` so
tests (and backfills) process the existing data exactly once and stop.

Scale notes: watermark + windowed agg state lives in the state store keyed by
(window, group); at 100 TB/day the state is bounded by the watermark horizon,
not the input size. Session windows merge state per user as Spark's built-in
``session_window`` operator. The custom stateful op uses
``applyInPandasWithState`` (Arrow-batched per group) -- the engine's
equivalent of a custom streaming operator.
"""

from __future__ import annotations

import threading
from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Schema of /root/testdata/sf*/events.parquet after read_table's nanos->micros
# normalization (props stays a JSON string; see FIXTURES.md §B).
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _events_ts_unit(sf_dir: str) -> str:
    """Time unit ('ns'/'us'/'ms') of the events parquet ts column, read from
    the file footer. The driver has shipped both TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS) testdata across rounds; a streaming schema must be
    declared up front, so sniff the unit before building the plan."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    try:
        field = pq.ParquetFile(path).schema_arrow.field("ts")
        return getattr(field.type, "unit", "us")
    except Exception:
        return "us"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source readStream over the events parquet (one file = one
    micro-batch in tests; in production the same code points at a
    continuously-appended directory or Kafka). The file source needs a
    directory, so scan ``sf_dir`` with a glob filter for the events table.

    TIMESTAMP(MICROS) reads natively; TIMESTAMP(NANOS) is unreadable as a
    Spark timestamp, so that layout reads ns-as-long (legacy conf) and
    converts -- the same truncation DuckDB applies coercing TIMESTAMP_NS."""
    if _events_ts_unit(sf_dir) != "ns":
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    raw = StructType(
        [f if f.name != "ts" else StructField("ts", LongType()) for f in EVENTS_SCHEMA]
    )
    df = (
        spark.readStream.schema(raw)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


_INTERVAL_UNIT_MS = {
    "millisecond": 1,
    "second": 1_000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
}


def _interval_ms(interval: str) -> int:
    """Parse a Spark-style interval string ('30 seconds', '5 minutes')
    to milliseconds. Round-3 ADVICE: the old parser multiplied the
    leading integer by 60_000 regardless of unit, so gap='30 seconds'
    silently armed timers 30 minutes out."""
    parts = interval.strip().split()
    if len(parts) != 2:
        raise ValueError(
            f"interval {interval!r}: expected '<n> <unit>' "
            "(e.g. '30 seconds', '5 minutes')"
        )
    unit = parts[1].lower().rstrip("s")
    if unit not in _INTERVAL_UNIT_MS:
        raise ValueError(
            f"interval {interval!r}: unknown unit {parts[1]!r} "
            f"(one of {sorted(_INTERVAL_UNIT_MS)})"
        )
    return int(parts[0]) * _INTERVAL_UNIT_MS[unit]


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """W3 tumbling windows + watermark: late rows beyond the watermark are
    dropped; state for closed windows is evicted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )


def session_counts(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """W3 session windows per user (5-minute inactivity gap), merging state."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", gap).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("win.start").alias("session_start"), "n_events")
    )


def stream_dedup(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming dropDuplicates with watermark: exactly-once per event_id
    within the watermark horizon (state eviction bounds memory)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


_RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value_cents", LongType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("s", LongType())]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    (count, sum-of-cents) across micro-batches -- the engine's escape hatch
    for stateful logic Spark's built-ins can't express (W3/W4)."""

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        n, s = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += int((pdf["value"] * 100.0 + 0.5).apply(float).apply(int).sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value_cents": [s]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """The Spark 4 ``transformWithStateInPandas`` twin of
    running_user_totals: the same per-user running (count, sum-of-cents),
    expressed through the new StatefulProcessor API (explicit ValueState
    handle, RocksDB-backed on a cluster). Kept alongside the
    applyInPandasWithState version as the forward-compatible form --
    differential-tested against it in tests/test_streaming.py."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            n, s = self._totals.get() if self._totals.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                s += int((pdf["value"] * 100.0 + 0.5).apply(float).apply(int).sum())
            self._totals.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value_cents": [s]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType=_RUNNING_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


_TYPE_COUNTS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("n", LongType()),
    ]
)


def running_type_counts_tws(events: DataFrame) -> DataFrame:
    """transformWithStateInPandas with **MapState** (W3/W4): per-user map
    event_type -> running count across micro-batches. Exercises the state
    server's map-state protocol (UpdateValue/GetValue round-trips through
    the protobuf channel protomini supplies) — the shape for per-key
    sub-keyed state like per-user per-feature counters. Update-mode output:
    the last row per (user, type) carries the final count, which equals the
    batch groupBy — the differential-test contract."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "counts", "event_type string", "n bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            local: dict = {}
            for pdf in rows:
                for et, c in pdf.groupby("event_type").size().items():
                    local[et] = local.get(et, 0) + int(c)
            out = []
            for et, c in local.items():
                prev = (
                    self._counts.getValue((et,))
                    if self._counts.containsKey((et,))
                    else None
                )
                n = (prev[0] if prev else 0) + c
                self._counts.updateValue((et,), (n,))
                out.append((key[0], et, n))
            yield pd.DataFrame(
                {
                    "user_id": [r[0] for r in out],
                    "event_type": [r[1] for r in out],
                    "n": [r[2] for r in out],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        TypeCounts(),
        outputStructType=_TYPE_COUNTS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def user_event_log_tws(events: DataFrame) -> DataFrame:
    """transformWithStateInPandas with **ListState** (W3/W4): per-user
    append-only log of value-cents; each batch appends its elements and
    recomputes (count, sum) by iterating the FULL persisted list — proving
    the list-state protocol (AppendList + iterator paging) end-to-end, not
    just an in-memory accumulator. Same oracle as running_user_totals: the
    final row per user equals the batch aggregation."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class EventLog(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._log = handle.getListState("log", "cents bigint")

        def handleInputRows(self, key, rows, timerValues):
            vals: list[int] = []
            for pdf in rows:
                vals.extend(
                    int(v)
                    for v in (pdf["value"] * 100.0 + 0.5).apply(float)
                )
            if vals:
                self._log.appendList([(v,) for v in vals])
            n = 0
            s = 0
            for (v,) in self._log.get():
                n += 1
                s += v
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value_cents": [s]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        EventLog(),
        outputStructType=_RUNNING_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def purchase_click_pairs_full(
    purchases: DataFrame, clicks: DataFrame
) -> DataFrame:
    """Stream-stream FULL OUTER interval join (W3): matched pairs, plus
    watermark-gated null rows on BOTH sides — unmatched purchases once no
    click can still arrive for them, unmatched clicks once no purchase can.
    The global watermark is the MIN over both inputs (Spark's default
    multipleWatermarkPolicy), so each side's null cutoff derives from
    min(max purchase ts, max click ts) — the oracle reproduces it."""
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        clicks.filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "fullOuter",
    ).select(
        "purchase_id",
        "click_id",
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
    )


def purchase_click_pairs_semi(
    purchases: DataFrame, clicks: DataFrame
) -> DataFrame:
    """Stream-stream LEFT SEMI interval join (W3): purchases that had at
    least one click in the preceding 10 minutes — each emitted once, on
    first match, never duplicated by additional clicks. Unmatched rows
    never emit (that is the left-OUTER variant's job), so no watermark
    cutoff enters the result: the final set equals the batch semi-join."""
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        clicks.filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_semi",
    ).select("purchase_id", F.col("p_user").alias("user_id"))


def stream_dedup_within_watermark(events: DataFrame) -> DataFrame:
    """dropDuplicatesWithinWatermark (W3, Spark 3.5+): unlike plain
    streaming dropDuplicates (state per key forever), state for a key is
    evicted once the watermark passes its event time + delay — the
    bounded-memory dedup for at-least-once sources where duplicates arrive
    close together (retries, replays) rather than arbitrarily late."""
    return events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def flush_on_timer_tws(events: DataFrame) -> DataFrame:
    """transformWithStateInPandas with **processing-time timers** (W3/W4):
    per-user totals accumulate in ValueState and are FLUSHED by an expired
    timer instead of per-batch emission — the idle-key flush pattern (emit
    a user's aggregate once no new events arrive for them). Each input
    batch arms a timer that has already passed, so it fires on the NEXT
    micro-batch; on fire the totals are emitted and the state cleared.

    Measured Spark 4.1 semantics this encodes (probe-verified):
    - the timer phase runs at the START of the batch it is due in, BEFORE
      that batch's input rows — a key active in batches N and N+1 flushes
      its batch-N totals in N+1's timer phase, then re-accumulates;
    - with Trigger.AvailableNow, pending timers keep the query alive in
      "no new data but cleaning up state" batches after the input is
      exhausted (they do fire there) and the query does NOT self-terminate
      — callers poll the sink for convergence and stop() (see
      tests/test_streaming.py::test_tws_timer_flush).
    Completes the StatefulProcessor API surface: ValueState/ListState/
    MapState/timers, all through the protobuf state-server channel."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class FlushOnTimer(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._totals = handle.getValueState("totals", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            n, s = self._totals.get() if self._totals.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                s += int(
                    (pdf["value"] * 100.0 + 0.5).apply(float).apply(int).sum()
                )
            self._totals.update((n, s))
            # arm: an expiry at (or before) the current batch's clock is
            # already due, so it fires when the next micro-batch runs. Never
            # deleted: a stale timer firing after the flush finds cleared
            # state and emits nothing (cheaper than a delete round-trip per
            # batch, and avoids mutating timers while iterating them).
            self._handle.registerTimer(
                timerValues.getCurrentProcessingTimeInMs()
            )
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if self._totals.exists():
                n, s = self._totals.get()
                self._totals.clear()
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [n],
                        "sum_value_cents": [s],
                    }
                )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        FlushOnTimer(),
        outputStructType=_RUNNING_SCHEMA,
        outputMode="Update",
        timeMode="ProcessingTime",
    )


_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("s", LongType()),
        StructField("timer_ms", LongType()),
    ]
)


def session_flush_event_timer_tws(
    events: DataFrame, gap: str = "5 minutes", watermark: str = "0 seconds"
) -> DataFrame:
    """transformWithStateInPandas with **EVENT-time timers** (W3/W4): a
    custom session window — per-user totals accumulate, and every batch
    re-arms a timer at (max event time seen for the key) + gap. When the
    WATERMARK (not the wall clock) passes that expiry, the session flushes
    and state clears. This is the build-your-own-session-window pattern the
    TWS API exists for; with built-in session_window the gap must be a
    constant, while a processor can arm any per-key policy.

    Measured Spark 4.1 semantics (probe-verified, mirrors the
    processing-time notes on flush_on_timer_tws):
    - expired timers fire in the timer phase of the batch AFTER the
      watermark update that passed them (watermark advances at batch end);
    - under Trigger.AvailableNow, state-cleanup batches after input
      exhaustion DO fire timers the final watermark passed; sessions whose
      expiry lies beyond the final watermark never flush (exactly Spark's
      own session_window append semantics);
    - the previous timer is deleteTimer()d before re-arming, so extending
      a session never double-fires.
    Event-time mode requires a watermark on the input; the timer expiry is
    compared against it, so totals flush deterministically regardless of
    processing speed."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_ms = _interval_ms(gap)

    class SessionFlush(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._st = handle.getValueState("sess", _SESSION_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            n, s, old_timer = (
                self._st.get() if self._st.exists() else (0, 0, 0)
            )
            max_ts_ms = 0
            for pdf in rows:
                n += len(pdf)
                s += int(
                    (pdf["value"] * 100.0 + 0.5).apply(float).apply(int).sum()
                )
                batch_max = pdf["ts"].max()
                max_ts_ms = max(
                    max_ts_ms, int(batch_max.timestamp() * 1000)
                )
            new_timer = max(max_ts_ms + gap_ms, old_timer)
            if new_timer != old_timer:
                if old_timer:
                    self._handle.deleteTimer(old_timer)
                self._handle.registerTimer(new_timer)
            self._st.update((n, s, new_timer))
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if self._st.exists():
                n, s, _ = self._st.get()
                self._st.clear()
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [n],
                        "sum_value_cents": [s],
                    }
                )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            SessionFlush(),
            outputStructType=_RUNNING_SCHEMA,
            outputMode="Update",
            timeMode="EventTime",
        )
    )


def stream_static_segment_counts(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static join (W3): enrich the event stream with the customer
    dimension (user_id == c_custkey), then aggregate per (segment, type).
    The static side is re-planned each micro-batch, so dim updates between
    batches are picked up; Catalyst broadcasts it (small dim). Run in
    complete mode: a plain (non-windowed) streaming agg keeps running
    totals per group in the state store."""
    dim = customers.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        events.join(dim, "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def purchase_click_pairs(purchases: DataFrame, clicks: DataFrame) -> DataFrame:
    """Stream-stream interval join (W3): for every purchase, the clicks by
    the same user in the 10 minutes leading up to it. Watermarks on BOTH
    sides plus the time-range predicate let Spark evict buffered rows once
    they can no longer match (state stays bounded by the interval + late
    horizon, not the stream length)."""
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        clicks.filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))


def purchase_click_window_counts(
    purchases: DataFrame, clicks: DataFrame
) -> DataFrame:
    """CHAINED stateful operators (Spark 4, SPARK-42376): a stream-stream
    interval join followed by a tumbling-window aggregation in ONE streaming
    query — the funnel-analytics shape (join events, then rate them per
    window) that pre-Spark-3.5 required two queries with an intermediate
    sink. The join output carries the purchase-side event time (still
    watermarked), so the downstream window aggregation evicts state with
    the same watermark; append mode emits each (window, user) count exactly
    once, when the watermark passes the window end. State for BOTH
    operators stays bounded by interval + late horizon, never stream
    length."""
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        clicks.filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    pairs = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    return (
        pairs.groupBy(
            F.window("p_ts", "10 minutes").alias("win"),
            F.col("p_user").alias("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(F.col("win.start").alias("window_start"), "user_id", "n_pairs")
    )


def run_foreach_batch_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
) -> int:
    """foreachBatch sink with exactly-once output (W5): each micro-batch is
    written to ``{out_dir}/batch_id=N`` with overwrite mode, so a replayed
    batch (failure between write and checkpoint commit) lands idempotently
    on the same path. Combined with the checkpointed source offsets this
    gives end-to-end exactly-once for any batch-capable sink, not just the
    ones with native streaming support. Returns the number of batches
    processed THIS run -- a rerun over the same checkpoint returns 0."""
    import os

    n_batches = [0]

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )
        n_batches[0] += 1

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    return n_batches[0]


def _stream_source_bytes(stream_df: DataFrame) -> int | None:
    """Total on-disk bytes of the file sources feeding a streaming plan,
    or None when any source is not an inspectable file source. Walks the
    analyzed plan's StreamingRelation leaves (the V1 file source the
    engine's readStream.parquet(...) builds) and sums matching file
    sizes — a driver-side stat of file metadata, no data read."""
    import fnmatch
    import os

    try:
        leaves = stream_df._jdf.queryExecution().analyzed().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            cls = leaf.getClass().getSimpleName()
            if cls != "StreamingRelation":
                return None
            ds = leaf.dataSource()
            opts = ds.options()
            glob = None
            g = opts.get("pathGlobFilter")
            if g.isDefined():
                glob = g.get()
            paths = [
                ds.paths().apply(j) for j in range(ds.paths().size())
            ]
            po = opts.get("path")
            if po.isDefined():
                paths.append(po.get())
            if not paths:
                return None
            for p in paths:
                if p.startswith("file:"):
                    p = p[5:]
                if not os.path.exists(p):
                    return None
                if os.path.isfile(p):
                    total += os.path.getsize(p)
                    continue
                for root, _dirs, files in os.walk(p):
                    for f in files:
                        if f.startswith(("_", ".")):
                            continue
                        if glob and not fnmatch.fnmatch(f, glob):
                            continue
                        total += os.path.getsize(os.path.join(root, f))
        return total
    except Exception:
        return None


# Input volume per state partition of a stateful streaming run (see
# run_available_now).
STREAM_STATE_TARGET_BYTES = 32 << 20

# Serializes run_available_now's shuffle-partitions window: SQL confs are
# session-global, so two windows open at once would restore each other's
# temporary value.
_STREAM_CONF_LOCK = threading.Lock()


def run_available_now(stream_df: DataFrame, output_mode: str = "append") -> list:
    """Execute a streaming plan over the data available right now into an
    in-memory sink; returns the collected rows. Test/backfill harness --
    production would writeStream to a durable sink with a checkpoint dir.

    Round 9 (optimization): stateful operators create one HDFS-backed
    state store PER SHUFFLE PARTITION and commit each per micro-batch, so
    a one-shot availableNow run pays state-store file I/O proportional to
    the partition count regardless of data volume — measured at sf0.01
    the stream-stream full join fell 8.4–12.8 s → 2.8–3.3 s going from 32
    to 4–8 state partitions, value-identical. The streaming query plans
    with its own partition count — in production the state partition
    count is a deliberate per-job value anyway (it is frozen into the
    checkpoint on first run and cannot be changed after), so sizing it
    to expected state volume rather than inheriting the batch shuffle
    number is the correct cluster behavior, not a local tune.

    The count is DERIVED from the stream's file-source volume — one state
    partition per ``STREAM_STATE_TARGET_BYTES`` of input, clamped to
    [1, session shuffle partitions] — so a 100-TB stream sizes its state
    stores to its volume instead of a constant; non-file sources (no
    inspectable volume) keep the measured default 8. The count is set on
    the session only across ``start()``: the query clones the session
    when it starts and plans every micro-batch on the clone, so the conf
    is restored before the run. The window runs under a module-local lock
    that also covers reading the previous value and deriving the count,
    so two concurrent windows can neither capture each other's temporary
    value as the one to restore nor clamp against it. Batch queries
    planned on other driver threads during that window still see the
    stream's partition count (a performance effect only; values are
    unaffected)."""
    import uuid

    spark = stream_df.sparkSession
    name = "s" + uuid.uuid4().hex[:12]
    q = None
    try:
        with _STREAM_CONF_LOCK:
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            vol = _stream_source_bytes(stream_df)
            if vol is None:
                parts = 8
            else:
                parts = max(1, min(int(prev), vol // STREAM_STATE_TARGET_BYTES + 1))
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            try:
                q = (
                    stream_df.writeStream.format("memory")
                    .queryName(name)
                    .outputMode(output_mode)
                    .trigger(availableNow=True)
                    .start()
                )
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
        q.awaitTermination()
        return spark.table(name).collect()
    finally:
        # the memory sink registers its rows as a temp view: drop it, so
        # a run leaves no state behind in the session
        if q is not None:
            q.stop()
        spark.catalog.dropTempView(name)


def purchase_click_pairs_left(purchases: DataFrame, clicks: DataFrame) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (W3): every purchase, with its
    preceding-10-minute clicks or NULLs when none arrived. Outer results are
    watermark-gated: a purchase emits its null row only once the click-side
    watermark passes p_ts (no later click can match), so purchases inside
    the final watermark horizon never emit nulls — the oracle reproduces
    that cutoff from max(click ts) - delay."""
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        clicks.filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "leftOuter",
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))


def variant_type_stats(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """W3 x W4 (round 3): VARIANT decode inside a streaming aggregation —
    parse_json turns props into a VariantType column in the stream's
    projection, typed variant_get extractions feed a windowed grouped agg.
    The 100-TB streaming-ingest shape for semi-structured events: decode
    happens once per row in the scan projection (JVM-side), state is the
    ordinary windowed partial agg."""
    v = events.select("ts", "event_type", F.parse_json("props").alias("v"))
    k = F.variant_get("v", "$.k", "bigint")
    return (
        v.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "30 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("sum_k"),
            F.max(k).alias("max_k"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "sum_k",
            "max_k",
        )
    )
