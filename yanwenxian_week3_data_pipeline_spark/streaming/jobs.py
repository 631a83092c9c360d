"""Structured Streaming jobs over event data.

The batch operators in ``operators/sessionize.py`` have exact streaming
twins here:

- ``tumbling_stream``   — windowed count/sum with a watermark for late data
  (maps 1:1 onto the batch ``F.window`` aggregation).
- ``session_window_stream`` — native gap-based session windows
  (``F.session_window``), Spark's built-in streaming sessionization.
- ``sessionize_stateful``  — custom stateful sessionization via
  ``applyInPandasWithState``: per-user state carries the open session
  (start, last ts, count, sum); events whose gap exceeds the threshold
  close the previous session and emit it. Demonstrates the
  arbitrary-stateful-operator pattern (timeouts close idle sessions).

All jobs read a JSONL directory with an explicit schema (splittable,
schema-on-read, no inference pass) — the shape such a feed has at scale.
Tests drive them with ``trigger(availableNow=True)`` into a memory sink and
diff against the batch operators.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..sources.tables import load_table

EVENT_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
    ]
)


# Spark's JSON default timestampFormat keeps only milliseconds; event feeds
# carry microsecond timestamps, so spell the format out end-to-end (readers
# here, writers in tests) or sub-ms precision silently truncates.
JSON_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def read_event_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("timestampFormat", JSON_TS_FORMAT)
        .json(src_dir)
    )


def tumbling_stream(
    spark: SparkSession, src_dir: str, duration: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    ev = read_event_stream(spark, src_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def session_window_stream(
    spark: SparkSession, src_dir: str, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    ev = read_event_stream(spark, src_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("sw.start").alias("session_start"), "n_events")
    )


SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long, closed boolean"
)
SESSION_STATE_SCHEMA = "start long, last long, n long"


def _sessionize_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState, flush_idle: bool = False
) -> Iterable[pd.DataFrame]:
    """Per-user sessionizer. State = (session_start_us, last_ts_us, count).
    Emits a row per CLOSED session; with ``flush_idle`` the open session is
    additionally flushed with closed=false on processing-time timeout."""
    gap_us = 30 * 60 * 1_000_000
    (user_id,) = key

    if state.hasTimedOut:
        if state.exists:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(last, unit="us")],
                    "n_events": [n],
                    "closed": [False],
                }
            )
        return

    ts_list: list[int] = []
    for pdf in pdfs:
        ts_list.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
    ts_list.sort()

    if state.exists:
        start, last, n = state.get
    else:
        start, last, n = None, None, 0

    out_rows: list[tuple] = []
    for t in ts_list:
        if start is None:
            start, last, n = t, t, 1
        elif t - last > gap_us:
            out_rows.append((user_id, start, last, n, True))
            start, last, n = t, t, 1
        else:
            last, n = t, n + 1

    if start is not None:
        state.update((start, last, n))
        if flush_idle:
            state.setTimeoutDuration(60_000)

    if out_rows:
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in out_rows],
                "session_start": [pd.Timestamp(r[1], unit="us") for r in out_rows],
                "session_end": [pd.Timestamp(r[2], unit="us") for r in out_rows],
                "n_events": [r[3] for r in out_rows],
                "closed": [r[4] for r in out_rows],
            }
        )


def sessionize_stateful(
    spark: SparkSession, src_dir: str, flush_idle: bool = False
) -> DataFrame:
    """Custom stateful sessionization (applyInPandasWithState).

    ``flush_idle=False`` (drain mode): no timers — sessions close only when a
    later event exceeds the gap; each user's final session stays in state.
    This is REQUIRED for ``trigger(availableNow=True)`` runs: processing-time
    timers keep scheduling micro-batches after the input is exhausted, so an
    availableNow query with timers never terminates (observed: >1200 empty
    ~0.5 s batches before we killed it).

    ``flush_idle=True`` (continuous mode): a 60 s processing-time timeout
    flushes idle users' open sessions with ``closed=false`` — use with a
    continuous trigger in long-running deployments.
    """
    import functools

    ev = read_event_stream(spark, src_dir)
    return (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            functools.partial(_sessionize_fn, flush_idle=flush_idle),
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if flush_idle
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def dedup_stream(
    spark: SparkSession, src_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup of an at-least-once event feed:
    ``dropDuplicatesWithinWatermark`` on event_id keeps one copy of each
    event while the watermark bounds the dedup state — rows older than the
    watermark are evicted, so state is O(events per watermark window), not
    O(stream). The streaming twin of batch ``dedup_exact``; at scale this
    is the first stage in front of every downstream streaming aggregate."""
    ev = read_event_stream(spark, src_dir)
    return ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


TWS_OUT_SCHEMA = "user_id long, n_events long, total_value double, last_seen timestamp"
TWS_STATE_SCHEMA = "n long, total double, last_us long"


def tws_available() -> bool:
    """transformWithStateInPandas speaks a protobuf-based state protocol
    (pyspark.sql.streaming.proto); the runner needs ``google.protobuf``,
    which this container does not ship. Same convention as the media-codec
    ``DecodeNotAvailable`` boundary: the operator plumbing below is real and
    the equivalence test runs wherever protobuf exists, and skips (never
    fakes) where it can't."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def make_running_totals_processor() -> StatefulProcessor:
    """``transformWithStateInPandas`` processor (the Spark 4 successor to
    ``applyInPandasWithState``): per-user lifetime running totals. State is
    one typed ValueState row (count, value sum, last-seen epoch-µs) managed
    by the handle — the new API brings composable typed state (value / list
    / map), optional per-state TTL, and explicit timer registration, where
    the old API carried one monolithic state tuple and one timeout conf.
    Each input batch folds into the state and emits the updated totals
    (Update output), so the sink always holds each user's latest lifetime
    aggregate.

    Defined inside a factory ON PURPOSE: TWS schema validation runs the
    processor in a driver-side Python runner spawned from SPARK_HOME with
    its own sys.path; a module-level class would pickle by REFERENCE and
    that runner cannot import this package unless it is installed on every
    node. The local-class shape makes cloudpickle serialize the processor
    by VALUE, so the job runs wherever the pyspark runtime does — the same
    packaging rule as any closure shipped to executors, just stricter
    because the extra runner ignores the driver's sys.path."""

    class RunningUserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", TWS_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues) -> Iterable[pd.DataFrame]:
            (user_id,) = key
            n, total, last_us = self._agg.get() if self._agg.exists() else (0, 0.0, 0)
            for pdf in rows:
                vals = pdf["value"].dropna()
                n += len(pdf)
                total += float(vals.sum()) if len(vals) else 0.0
                ts = pdf["ts"].dropna()
                if len(ts):
                    last_us = max(last_us, max(t.value // 1_000 for t in ts))
            self._agg.update((n, total, last_us))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "total_value": [total],
                    "last_seen": [pd.Timestamp(last_us, unit="us") if last_us else pd.NaT],
                }
            )

        def close(self) -> None:
            pass

    return RunningUserTotals()


def running_totals_tws(spark: SparkSession, src_dir: str) -> DataFrame:
    """Per-user lifetime totals via transformWithStateInPandas (see
    make_running_totals_processor). timeMode="None": no timers, so an
    availableNow drain terminates (the same constraint sessionize_stateful
    documents). Requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass`` →
    ``...state.RocksDBStateStoreProvider``) — set it in the session driving
    the query (the rocksdbjni jar ships with pyspark)."""
    ev = read_event_stream(spark, src_dir)
    return ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=make_running_totals_processor(),
        outputStructType=TWS_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def dedup_then_tumbling_stream(
    spark: SparkSession,
    src_dir: str,
    duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """CHAINED stateful operators in one streaming query: at-least-once
    feed dedup (``dropDuplicatesWithinWatermark`` on event_id) feeding a
    watermarked tumbling aggregate — the canonical ingest topology
    (exactly-once-ify, then aggregate) that required two queries with an
    intermediate sink before Spark 3.4's multiple-stateful-operator
    support. One watermark declared upstream drives state eviction in BOTH
    operators; output is append-mode finalized windows."""
    ev = read_event_stream(spark, src_dir)
    return (
        ev.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", duration).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def run_available_now(df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Drain the stream once (availableNow) into a memory sink; return the
    materialized result as a batch DataFrame. ``output_mode``: "append" for
    row streams / stateful append operators, "complete" for unwatermarked
    re-emitting aggregations."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def enrich_stream(
    spark: SparkSession, src_dir: str, sf_dir: str, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-static broadcast enrichment: the event stream joins a static
    dimension (customer -> nation, re-read per micro-batch) before a
    watermarked windowed aggregate. The production pattern for attaching
    slowly-changing reference data to a fact stream — the static side stays
    a broadcast, so enrichment adds NO stateful shuffle; only the windowed
    aggregate keeps state, bounded by the watermark."""
    dim = (
        load_table(spark, sf_dir, "customer")
        .select((F.col("c_custkey") - 1).alias("user_id"), "c_nationkey")
    )
    ev = read_event_stream(spark, src_dir)
    return (
        ev.withWatermark("ts", watermark)
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", window).alias("w"), "c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("w_start"),
            "c_nationkey",
            "n_events",
            "total_value",
        )
    )


def stream_stream_purchase_attribution(
    spark: SparkSession,
    src_dir: str,
    attribution_window: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition: each
    purchase joins the views by the same user in the preceding
    ``attribution_window`` (the streaming form of
    join_range_views_before_purchase). Both sides carry watermarks and the
    join condition bounds purchase time relative to view time, so Spark can
    compute how long either side's rows must be buffered and evict state
    once the watermark passes — without the time bound the join state would
    grow forever. Emits (view_id, purchase_id, user_id, delay_s)."""
    views = (
        read_event_stream(spark, src_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    purchases = (
        read_event_stream(spark, src_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    j = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {attribution_window}")),
    )
    return j.select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        # timestamp_diff, not unix_timestamp subtraction: unix_timestamp
        # reads an NTZ value in the SESSION zone, so a DST transition
        # between view and purchase would shift the delay by an hour
        F.timestamp_diff("SECOND", F.col("v_ts"), F.col("p_ts")).alias("delay_s"),
    )


def write_stream_idempotent(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_col: str = "w_start",
) -> "object":
    """foreachBatch sink with replay-safe semantics: each micro-batch
    dynamically overwrites ONLY the partitions it carries
    (``partitionOverwriteMode=dynamic``), so re-processing a batch after a
    failure rewrites the same partition directories instead of appending
    duplicates. Combined with the checkpoint (which makes batch ids stable
    across restarts) this gives effectively-once file output — the standard
    Structured Streaming production sink when the target is a plain
    parquet/lakehouse table. Returns the started StreamingQuery
    (caller awaits termination)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # writer-local option, NOT a session conf set — a session-wide
        # dynamic mode would silently change overwrite semantics for every
        # other write on the shared session
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


FUNNEL_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("did_signup", BooleanType(), True),
        StructField("did_view_after_signup", BooleanType(), True),
        StructField("did_purchase_after_view", BooleanType(), True),
    ]
)

FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("signup_us", LongType(), True),
        StructField("view_us", LongType(), True),
        StructField("purchased", LongType(), True),
    ]
)


def _funnel_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-user ordered-conversion state: (min signup ts, min qualifying
    view ts, purchased flag). Each batch folds its events in event-time
    order, so a single-batch drain reproduces the batch window semantics
    exactly; across batches, conversions follow arrival order (a signup
    arriving later than an already-seen view does not retroactively qualify
    it — standard streaming-funnel semantics)."""
    (user_id,) = key
    events: list[tuple[int, str]] = []
    for pdf in pdfs:
        for ts, et in zip(pd.to_datetime(pdf["ts"]), pdf["event_type"]):
            if pd.isna(ts):  # null event times can never order a funnel
                continue
            events.append((int(ts.value // 1000), et))
    events.sort()

    s, v, p = state.get if state.exists else (None, None, 0)
    for us, et in events:
        if et == "signup" and (s is None or us < s):
            s = us
        elif et == "view" and s is not None and us > s and (v is None or us < v):
            v = us
        elif et == "purchase" and v is not None and us > v:
            p = 1
    state.update((s, v, p))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "did_signup": [s is not None],
            "did_view_after_signup": [v is not None],
            "did_purchase_after_view": [p == 1],
        }
    )


def funnel_stateful(spark: SparkSession, src_dir: str) -> DataFrame:
    """Streaming twin of the batch ``events_funnel_conversion``: per-user
    signup -> view -> purchase ordering tracked in
    ``applyInPandasWithState``; emits each user's current funnel flags every
    batch (update mode)."""
    ev = read_event_stream(spark, src_dir)
    return ev.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sliding_stream(
    spark: SparkSession,
    src_dir: str,
    duration: str = "15 minutes",
    slide: str = "5 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked sliding-window aggregate — the streaming twin of the
    batch ``events_sliding_15m``. Each event lands in duration/slide
    windows; state per open window is bounded by the watermark."""
    ev = read_event_stream(spark, src_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


# ---------------------------------------------------------------------------
# Streaming twin of plans/analytic_ext._transition_stream: per-user
# event-type transitions via applyInPandasWithState. State carries only
# the user's LAST event (ts, event_id, type) — O(1) per user — so
# transitions span micro-batch boundaries; within a batch rows are
# ordered by (ts, event_id) exactly like the batch lead() window. The
# at-least-once caveat mirrors sessionize_stateful: an event arriving in
# a LATER micro-batch than a same-user successor pairs in arrival order
# (the standard streaming tradeoff; the batch twin is the exact answer).
# ---------------------------------------------------------------------------

TRANSITION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("prev_type", StringType(), True),
        StructField("next_type", StringType(), True),
    ]
)

TRANSITION_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType(), True),
        StructField("last_event_id", LongType(), True),
        StructField("last_type", StringType(), True),
    ]
)


def _transition_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    rows: list[tuple[int, int, str]] = []
    for pdf in pdfs:
        for ts, eid, et in zip(
            pd.to_datetime(pdf["ts"]), pdf["event_id"], pdf["event_type"]
        ):
            rows.append((int(ts.value // 1000), int(eid), str(et)))
    if not rows:
        return
    rows.sort()
    prev = state.get if state.exists else None
    out: list[tuple[int, str, str]] = []
    for r in rows:
        if prev is not None:
            out.append((user_id, prev[2], r[2]))
        prev = r
    state.update(prev)
    if out:
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in out],
                "prev_type": [r[1] for r in out],
                "next_type": [r[2] for r in out],
            }
        )


def transitions_stateful(spark: SparkSession, src_dir: str) -> DataFrame:
    """One output row per consecutive same-user event pair (the Markov
    transition stream); aggregate downstream for the live transition
    matrix. Drain mode only (no timers — the availableNow contract, see
    sessionize_stateful)."""
    ev = read_event_stream(spark, src_dir)
    return ev.groupBy("user_id").applyInPandasWithState(
        _transition_fn,
        outputStructType=TRANSITION_OUT_SCHEMA,
        stateStructType=TRANSITION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
