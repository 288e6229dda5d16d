"""Event-stream operators over the ``events`` table: windowed aggregation
(batch + Structured Streaming with watermark) and gap-based sessionization
(batch window functions + a watermarked stateful-streaming twin that emits
closed sessions only).

Determinism notes: all time arithmetic is in integer microseconds
(unix_micros / epoch_us) so Spark and the DuckDB oracle agree exactly;
aggregates avoid float sums (counts + min/max ids).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _window_counts(events: DataFrame, window) -> DataFrame:
    """(window_start_us, event_type, n, min_event_id, max_event_id) per
    (``window``, event type): the one aggregate body of the batch and
    streaming window operators."""

    return events.groupBy(window.alias("w"), "event_type").agg(
        F.count("*").alias("n"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    ).select(
        F.unix_micros(F.col("w.start").cast("timestamp")).alias("window_start_us"),
        "event_type", "n", "min_event_id", "max_event_id",
    )


def windowed_event_counts(events: DataFrame, minutes: int = 5) -> DataFrame:
    """Tumbling-window counts per event type (batch plan — window() compiles
    to a partial-aggregated hash agg, map-side combined)."""

    return _window_counts(events, F.window("ts", f"{minutes} minutes"))


def sliding_event_counts(
    events: DataFrame, minutes: int = 10, slide_minutes: int = 5
) -> DataFrame:
    """Sliding-window counts per event type: window() with a slide emits
    one row per (event, covering window) — still a single partial-aggregated
    hash agg, the fan-out (len/slide rows per event) happens map-side."""

    return _window_counts(
        events, F.window("ts", f"{minutes} minutes", f"{slide_minutes} minutes")
    )


def stream_windowed_event_counts(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    minutes: int = 5,
    watermark: str = "10 minutes",
) -> None:
    """Streaming twin: watermarked tumbling windows; late rows beyond the
    watermark are dropped, closed windows emit once (append mode).  Drains
    available input (Trigger.AvailableNow) and stops."""

    events = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(events_dir)
    agg = _window_counts(
        events.withWatermark("ts", watermark), F.window("ts", f"{minutes} minutes")
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions per user (batch): a session breaks when the gap to
    the previous event exceeds ``gap_minutes``.  Window-function plan: one
    shuffle on user_id, two window passes, no UDFs.
    Returns (user_id, session_seq, n_events, start_us, end_us)."""

    gap_us = gap_minutes * 60_000_000
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = events.select("user_id", "event_id", us.alias("ts_us"))
    by_user = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    new_session = F.when(
        F.col("ts_us") - F.lag("ts_us").over(by_user) > F.lit(gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    # Explicit ROWS frame: Spark's default for an ordered window is RANGE
    # (peers of the current row are included), which diverges from the
    # oracle's ROWS UNBOUNDED PRECEDING whenever two events tie on the full
    # (ts_us, event_id) ordering key.  Pin ROWS so both engines agree.
    running = by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_sess = base.withColumn("session_seq", F.sum(new_session).over(running))
    return with_sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
    )


SESSION_STATE_SCHEMA = "start_us long, end_us long, n_events long, session_seq long"
SESSION_OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_seq", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("start_us", T.LongType()),
    T.StructField("end_us", T.LongType()),
])


def sessionize_stateful_watermarked(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "0 seconds",
    idle_state_retention_minutes: int = 24 * 60,
) -> DataFrame:
    """TRUE stream-semantics sessionization: emits CLOSED sessions only.

    The streaming twin of the batch :func:`sessionize`: it keeps each
    user's open session in state and closes it in exactly two ways:

    1. a later event for the same user arrives with a gap > ``gap_minutes``;
    2. the event-time watermark passes ``session_end + gap`` — an
       ``EventTimeTimeout`` fires in a subsequent micro-batch and emits the
       session even if the user never sends another event.

    A session still open when the stream stops is never emitted (it lives in
    the checkpoint for the next run) — append-mode semantics, the streaming
    twin of what windowed aggregation does with late windows.  After a
    timeout the user's ``session_seq`` continues (state keeps the counter
    with no open session), so seq never restarts mid-stream; that sentinel
    state is itself dropped once the user has been idle for
    ``idle_state_retention_minutes`` past the watermark (a TTL — without it
    every user that ever timed out would hold a state-store row forever,
    which is unbounded growth at corpus-scale user cardinality; a user
    returning after the TTL restarts at seq 0, standard retention
    semantics).

    Late events within the watermark are merged by interval arithmetic
    (``min(start)``/``max(end)``) — an in-order assumption would let a late
    event REWIND the open session's end and corrupt the next gap test.
    Merging into the open session is exact whenever the watermark delay is
    <= the session gap (any admitted late event is then within ``gap`` of
    some session event); configure ``watermark`` <= ``gap_minutes`` to stay
    in that regime."""

    gap_us = gap_minutes * 60_000_000
    gap_ms = gap_minutes * 60_000
    retention_ms = idle_state_retention_minutes * 60_000
    cols = ["user_id", "session_seq", "n_events", "start_us", "end_us"]

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start_us, end_us, n_events, seq = state.get
            if start_us < 0:
                # sentinel (seq-only) state reached its retention TTL
                state.remove()
                yield pd.DataFrame([], columns=cols)
                return
            # emit the closed session; keep the seq counter as a sentinel
            # with a retention timeout so it cannot leak forever
            state.update((-1, -1, 0, seq + 1))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + retention_ms)
            yield pd.DataFrame(
                [(user_id, seq, n_events, start_us, end_us)], columns=cols
            )
            return
        if state.exists:
            start_us, end_us, n_events, seq = state.get
        else:
            start_us = end_us = -1
            n_events = 0
            seq = 0
        out = []
        ts = sorted(
            t
            for pdf in pdfs
            for t in (pdf["ts"].astype("int64") // 1000).tolist()  # ns -> us
        )
        for t in ts:
            if start_us < 0:
                start_us, end_us, n_events = t, t, 1
            elif t - end_us > gap_us:
                out.append((user_id, seq, n_events, start_us, end_us))
                seq += 1
                start_us, end_us, n_events = t, t, 1
            else:
                # late-but-in-watermark events may precede the open
                # session's bounds: widen the interval, never rewind it
                start_us = min(start_us, t)
                end_us = max(end_us, t)
                n_events += 1
        state.update((start_us, end_us, n_events, seq))
        if start_us >= 0:
            # close the open session when the watermark passes end + gap;
            # the timeout target must sit above the current watermark
            state.setTimeoutTimestamp(
                max(end_us // 1000 + gap_ms + 1, state.getCurrentWatermarkMs() + 1)
            )
        yield pd.DataFrame(out, columns=cols)

    return (
        events.withWatermark("ts", watermark)
        .select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_stream_watermarked(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap_minutes: int = 30,
    watermark: str = "0 seconds",
    max_files_per_trigger: int = 1,
    idle_state_retention_minutes: int = 24 * 60,
) -> None:
    """Drive the watermarked sessionizer over a file stream, one file per
    micro-batch (``maxFilesPerTrigger``) so a multi-file directory exercises
    real cross-batch state + watermark advancement, then stop."""

    events = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )
    q = (
        sessionize_stateful_watermarked(
            events, gap_minutes, watermark, idle_state_retention_minutes
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
