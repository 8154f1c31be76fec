"""Watermarked windowed aggregation + stateful sessionization streams:
append-mode emissions must equal the batch plan for every finalized
window/session, and rows behind the watermark must be dropped.

Protocol: each "day's drop" is one parquet file + one availableNow drain
against the SAME checkpoint — watermark state persists across drains
(the production shape of an incremental top-up). Emission at drain N uses
the watermark from data through drain N-1, so a trailing sentinel drain
flushes the real windows; the sentinel's own window/session stays open
and must NOT be emitted.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from ocr_platform_spark.streaming.sessions import (
    run_session_stream, sessionize)
from ocr_platform_spark.streaming.windowed import (
    EVENTS_SCHEMA, run_windowed_stream, windowed_event_aggregate)

T0 = dt.datetime(2024, 3, 1, 0, 0, 0)


def _events(spec):
    """spec: list of (event_id, minutes_after_t0, user_id, value)."""
    return pd.DataFrame({
        "event_id": [e for e, _, _, _ in spec],
        "ts": [T0 + dt.timedelta(minutes=m) for _, m, _, _ in spec],
        "user_id": [u for _, _, u, _ in spec],
        "event_type": ["click"] * len(spec),
        "value": [v for _, _, _, v in spec],
        "props": ["{}"] * len(spec),
    })


def _drop(spark, inp, spec):
    spark.createDataFrame(_events(spec), schema=EVENTS_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(inp)


def _drain(run_fn, spark, inp, out, ckpt):
    q = run_fn(spark, inp, out, ckpt)
    q.awaitTermination(120)


BATCH1 = [(i, 10 * i, 1, 1.0) for i in range(30)]        # 0..290 min
BATCH2 = [(100 + i, 300 + 10 * i, 1, 1.0) for i in range(30)]  # 300..590
LATE = [(999, 5, 2, 7.0)]            # t+5min: behind the watermark by hours
SENTINEL = [(1000, 10_000, 9, 0.0)]  # far future: flushes the watermark


def test_windowed_stream_matches_batch_and_drops_late(spark, tmp_path):
    inp, out, ckpt = (str(tmp_path / d) for d in ("ev", "agg", "ckpt"))

    _drop(spark, inp, BATCH1)
    _drain(run_windowed_stream, spark, inp, out, ckpt)
    _drop(spark, inp, BATCH2 + LATE)      # LATE is hours behind watermark
    _drain(run_windowed_stream, spark, inp, out, ckpt)
    _drop(spark, inp, SENTINEL)
    _drain(run_windowed_stream, spark, inp, out, ckpt)

    got = {(r["window_start"], r["event_type"]):
           (r["n_events"], r["sum_value_cents"])
           for r in spark.read.parquet(out).collect()}

    # expected: batch aggregation over everything EXCEPT the late row
    # (dropped behind the watermark) and the sentinel (window never closed)
    valid = spark.createDataFrame(_events(BATCH1 + BATCH2),
                                  schema=EVENTS_SCHEMA)
    want = {(r["window_start"], r["event_type"]):
            (r["n_events"], r["sum_value_cents"])
            for r in windowed_event_aggregate(valid).collect()}
    assert got == want
    # the late row's would-be window is present but without its value
    late_ws = int((T0 + dt.timedelta(minutes=5))
                  .replace(minute=0).timestamp())
    assert got[(late_ws, "click")][1] == 600  # 6 rows x 100 cents, no 700


def test_session_stream_matches_batch_closed_sessions(spark, tmp_path):
    inp, out, ckpt = (str(tmp_path / d) for d in ("ev", "sess", "ckpt"))

    # user 1: a 3-event burst, a 40-min gap (new session), another burst;
    # the second burst CONTINUES in drop 2 within the gap (state carries
    # across micro-batches); user 3 appears only in drop 2
    drop1 = [(1, 0, 1, 1.0), (2, 5, 1, 1.0), (3, 10, 1, 1.0),
             (4, 50, 1, 2.0), (5, 60, 1, 2.0)]
    drop2 = [(6, 75, 1, 2.0),                      # 15 min after event 5
             (7, 300, 1, 3.0),                     # third session
             (8, 310, 3, 4.0)]
    _drop(spark, inp, drop1)
    _drain(run_session_stream, spark, inp, out, ckpt)
    _drop(spark, inp, drop2)
    _drain(run_session_stream, spark, inp, out, ckpt)
    _drop(spark, inp, SENTINEL)
    _drain(run_session_stream, spark, inp, out, ckpt)
    # one more empty-ish drain so the sentinel-advanced watermark fires
    # the remaining event-time timeouts
    _drop(spark, inp, [(1001, 10_001, 9, 0.0)])
    _drain(run_session_stream, spark, inp, out, ckpt)

    got = {(r["user_id"], r["session_idx"]):
           (r["session_start"], r["session_end"], r["n_events"],
            r["sum_value_cents"])
           for r in spark.read.parquet(out).collect()}

    batch = sessionize(spark.createDataFrame(_events(drop1 + drop2),
                                             schema=EVENTS_SCHEMA))
    want = {(r["user_id"], r["session_idx"]):
            (r["session_start"], r["session_end"], r["n_events"],
             r["sum_value_cents"])
            for r in batch.collect()}
    assert got == want
    # the cross-batch session merged: user 1 session 2 has 3 events
    assert got[(1, 2)][2] == 3 and got[(1, 2)][3] == 600


def test_session_stream_drops_late_rows(spark, tmp_path):
    inp, out, ckpt = (str(tmp_path / d) for d in ("ev", "sess", "ckpt"))
    _drop(spark, inp, [(1, 0, 1, 1.0), (2, 1000, 1, 1.0)])
    _drain(run_session_stream, spark, inp, out, ckpt)
    # a row for user 1 at t+2min arrives hours behind the watermark: if it
    # were admitted it would extend session 1; it must be dropped
    _drop(spark, inp, [(3, 2, 1, 9.0)])
    _drain(run_session_stream, spark, inp, out, ckpt)
    _drop(spark, inp, SENTINEL)
    _drain(run_session_stream, spark, inp, out, ckpt)
    _drop(spark, inp, [(1001, 10_001, 9, 0.0)])
    _drain(run_session_stream, spark, inp, out, ckpt)

    rows = {(r["user_id"], r["session_idx"]): r
            for r in spark.read.parquet(out).collect()}
    assert rows[(1, 1)]["n_events"] == 1
    assert rows[(1, 1)]["sum_value_cents"] == 100   # not 1000


# --- hopping windows ---------------------------------------------------------

def test_hopping_every_event_in_exactly_two_windows(spark):
    """Slide divides width 2:1, so sum of window counts == 2x events and
    each tumbling bucket's mass appears in both covering windows."""
    from pyspark.sql import functions as F

    from ocr_platform_spark.operators.tables import load
    from ocr_platform_spark.streaming.windowed import ev_hopping_agg

    sf = "/root/testdata/sf0.01"
    n_events = load(spark, sf, "events").count()
    agg = ev_hopping_agg(spark, sf)
    assert agg.agg(F.sum("n_events")).first()[0] == 2 * n_events
    # window starts sit on the 30-minute grid
    assert agg.filter(F.pmod("window_start", F.lit(1800)) != 0).count() == 0


def test_hopping_matches_manual_assignment(spark):
    """Planted events: one at :05 lands in the :00 and -:30 windows."""
    import datetime as dt

    from ocr_platform_spark.streaming.windowed import (
        EVENTS_SCHEMA, hopping_event_aggregate)

    t0 = dt.datetime(2024, 1, 1, 10, 5, 0)
    events = spark.createDataFrame(
        [(1, t0, 1, "click", 1.0, None)], EVENTS_SCHEMA)
    rows = sorted((r["window_start"], r["n_events"])
                  for r in hopping_event_aggregate(events).collect())
    base = int(dt.datetime(2024, 1, 1, 10, 0, 0)
               .replace(tzinfo=dt.timezone.utc).timestamp())
    # session TZ is UTC in tests; the two covering windows are 09:30/10:00
    got_starts = [r[0] for r in rows]
    assert len(rows) == 2
    assert got_starts[1] - got_starts[0] == 1800
    assert all(n == 1 for _, n in rows)


def test_hopping_stream_matches_batch_and_drops_late(spark, tmp_path):
    """Sliding windows behind a watermark: stream == batch over on-time
    events; the late row is dropped from BOTH of its covering windows."""
    from ocr_platform_spark.streaming.windowed import (
        hopping_event_aggregate, run_hopping_stream)

    inp, out, ckpt = (str(tmp_path / d) for d in ("ev", "hop", "ckpt"))
    _drop(spark, inp, BATCH1)
    _drain(run_hopping_stream, spark, inp, out, ckpt)
    _drop(spark, inp, BATCH2 + LATE)
    _drain(run_hopping_stream, spark, inp, out, ckpt)
    _drop(spark, inp, SENTINEL)
    _drain(run_hopping_stream, spark, inp, out, ckpt)

    got = {(r["window_start"], r["event_type"]):
           (r["n_events"], r["sum_value_cents"])
           for r in spark.read.parquet(out).collect()}
    valid = spark.createDataFrame(_events(BATCH1 + BATCH2),
                                  schema=EVENTS_SCHEMA)
    want = {(r["window_start"], r["event_type"]):
            (r["n_events"], r["sum_value_cents"])
            for r in hopping_event_aggregate(valid).collect()}
    assert got == want
