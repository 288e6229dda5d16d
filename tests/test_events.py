"""Event-stream operators: windowed aggregation (batch == watermarked
stream), sessionization (window-function plan == python oracle; the
watermarked stateful streaming twin emits its closed subset)."""

from __future__ import annotations

import pytest

from gmx.events import (
    sessionize,
    stream_windowed_event_counts,
    windowed_event_counts,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.cache().count()
    return ev


def _session_oracle(rows, gap_us=30 * 60_000_000):
    by_user: dict[int, list[int]] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r.ts_us)
    out = set()
    for uid, ts in by_user.items():
        ts.sort()
        seq, start, end, n = 0, ts[0], ts[0], 1
        for t in ts[1:]:
            if t - end > gap_us:
                out.add((uid, seq, n, start, end))
                seq, start, end, n = seq + 1, t, t, 1
            else:
                end, n = t, n + 1
        out.add((uid, seq, n, start, end))
    return out


def test_sessionize_matches_python_oracle(spark, events):
    from pyspark.sql import functions as F

    raw = events.select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    ).collect()
    want = _session_oracle(raw)
    got = {(r.user_id, r.session_seq, r.n_events, r.start_us, r.end_us)
           for r in sessionize(events).collect()}
    assert got == want


def test_windowed_counts_cover_all_events(events):
    agg = windowed_event_counts(events)
    assert agg.groupBy().sum("n").first()[0] == events.count()
    starts = [r.window_start_us for r in agg.select("window_start_us").collect()]
    assert all(s % (5 * 60_000_000) == 0 for s in starts)


def test_stream_windowed_counts_equal_batch(spark, sf_dir, events, tmp_path):
    src = str(tmp_path / "ev_src")
    out = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")
    events.write.mode("overwrite").parquet(src)
    stream_windowed_event_counts(spark, src, out, ckpt, watermark="0 seconds")
    got = {(r.window_start_us, r.event_type, r.n, r.min_event_id, r.max_event_id)
           for r in spark.read.parquet(out).collect()}
    want = {(r.window_start_us, r.event_type, r.n, r.min_event_id, r.max_event_id)
            for r in windowed_event_counts(events).collect()}
    # append-mode emits only windows closed by the final watermark: the last
    # open window stays in state, everything else must match exactly
    assert got <= want
    assert len(want) - len(got) <= len(
        {r.event_type for r in events.select("event_type").distinct().collect()}
    )


def test_watermarked_sessionizer_emits_closed_only(spark, tmp_path):
    """True stream semantics on a 2-batch split: sessions close by gap (a
    later event arrives) or by watermark timeout (no later event, watermark
    passed end+gap); sessions still open when the stream stops are NOT
    emitted.  Emitted sessions must agree with the batch plan exactly."""

    import datetime as dt
    import time

    from gmx.events import sessionize_stream_watermarked

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def ev(eid, uid, sec):
        return (eid, base + dt.timedelta(seconds=sec), uid, "click", 1.0, "{}")

    us = lambda sec: int((base + dt.timedelta(seconds=sec)).timestamp() * 1_000_000)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = str(tmp_path / "wm_src")
    out = str(tmp_path / "wm_out")
    ckpt = str(tmp_path / "wm_ckpt")
    # batch 1: u1 two events (one session), u2 one early event; max ts 1600s
    batch1 = [ev(1, 1, 1000), ev(2, 2, -1000), ev(3, 1, 1600)]
    # batch 2: u1 event after the 30-min gap (closes u1 s0), u3 opens; both
    # above the batch-1 watermark (1600s, delay 0) so nothing is late-dropped
    batch2 = [ev(4, 1, 10000), ev(5, 3, 9000)]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # distinct mtimes: file order = batch order
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)

    sessionize_stream_watermarked(spark, src, out, ckpt)
    got = {(r.user_id, r.session_seq, r.n_events, r.start_us, r.end_us)
           for r in spark.read.parquet(out).collect()}
    # u1 s0 closed by gap on arrival of event 4; u2 s0 closed by timeout in
    # batch 2 (timeout at -1000+1800=800s < watermark 1600s); u1 s1 and u3 s0
    # still open at stream end -> absent
    assert got == {
        (1, 0, 2, us(1000), us(1600)),
        (2, 0, 1, us(-1000), us(-1000)),
    }
    # and every emitted session matches the batch plan row-for-row
    all_events = spark.createDataFrame(batch1 + batch2, schema)
    batch_sessions = {(r.user_id, r.session_seq, r.n_events, r.start_us, r.end_us)
                      for r in sessionize(all_events).collect()}
    assert got <= batch_sessions


def test_watermarked_sessionizer_resumes_from_checkpoint(spark, tmp_path):
    """Resumability: run the watermarked sessionizer, STOP, add more input,
    run again with the same checkpoint — open-session state and the
    watermark survive in the checkpoint, so the second run closes sessions
    exactly as a continuous stream would (no duplicates, no seq restart)."""

    import datetime as dt
    import time

    from gmx.events import sessionize_stream_watermarked

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def ev(eid, uid, sec):
        return (eid, base + dt.timedelta(seconds=sec), uid, "click", 1.0, "{}")

    us = lambda sec: int((base + dt.timedelta(seconds=sec)).timestamp() * 1_000_000)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = str(tmp_path / "rs_src")
    out = str(tmp_path / "rs_out")
    ckpt = str(tmp_path / "rs_ckpt")

    spark.createDataFrame(
        [ev(1, 1, 1000), ev(2, 2, -1000), ev(3, 1, 1600)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    sessionize_stream_watermarked(spark, src, out, ckpt)
    # availableNow runs a trailing timer batch after the data drains: u2's
    # session (end -1000s, timeout 800s) is already behind the watermark
    # (1600s) and closes; u1's session (end 1600s) stays open in state
    first = {(r.user_id, r.session_seq) for r in spark.read.parquet(out).collect()}
    assert first == {(2, 0)}

    time.sleep(1.1)
    spark.createDataFrame(
        [ev(4, 1, 10000), ev(5, 3, 9000)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    sessionize_stream_watermarked(spark, src, out, ckpt)

    got = {(r.user_id, r.session_seq, r.n_events, r.start_us, r.end_us)
           for r in spark.read.parquet(out).collect()}
    assert got == {
        (1, 0, 2, us(1000), us(1600)),  # closed by event 4 after restart
        (2, 0, 1, us(-1000), us(-1000)),  # closed by the restored watermark
    }


def test_sessionize_stream_gate_query_matches_closed_subset(spark, sf_dir, events):
    """The driver-gate query (two time-ordered files -> watermarked stateful
    sessionizer) emits exactly the CLOSED subset of the batch sessions:
    every session except, per user, the final one when the final watermark
    (floor(max ts / 1ms)) never passed end+gap+1 — the same predicate the
    DuckDB oracle encodes."""

    from pyspark.sql import functions as F

    from gmx.queries import events_sessionize_stream

    got = {(r.user_id, r.session_seq, r.n_events, r.start_us, r.end_us)
           for r in events_sessionize_stream(spark, sf_dir).collect()}

    batch = [(r.user_id, r.session_seq, r.n_events, r.start_us, r.end_us)
             for r in sessionize(events).collect()]
    wm_ms = events.agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp")))
    ).first()[0] // 1000
    last = {}
    for u, seq, *_ in batch:
        last[u] = max(last.get(u, -1), seq)
    want = {
        (u, seq, n, s, e)
        for (u, seq, n, s, e) in batch
        if seq < last[u] or e // 1000 + 30 * 60_000 + 1 < wm_ms
    }
    assert got == want and len(got) > 0
