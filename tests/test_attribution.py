"""Interval join + last-touch attribution (streaming/attribution.py):
batch semantics pins, plan shape, and the stream-stream twin's parity
with the batch plan under the drop/drain protocol of
tests/test_streaming_windowed.py."""

from __future__ import annotations

import datetime as dt

import pandas as pd

from ocr_platform_spark.streaming.attribution import (
    ATTR_WINDOW_US, click_view_pairs, last_touch, run_click_pairs_stream)
from ocr_platform_spark.streaming.windowed import EVENTS_SCHEMA

T0 = dt.datetime(2024, 3, 1, 0, 0, 0)
SF_DIR = "/root/testdata/sf0.01"


def _events_df(spark, spec):
    """spec: (event_id, minutes_after_t0, user_id, event_type)."""
    pdf = pd.DataFrame({
        "event_id": [e for e, _, _, _ in spec],
        "ts": [T0 + dt.timedelta(minutes=m) for _, m, _, _ in spec],
        "user_id": [u for _, _, u, _ in spec],
        "event_type": [t for _, _, _, t in spec],
        "value": [1.0] * len(spec),
        "props": ["{}"] * len(spec),
    })
    return spark.createDataFrame(pdf, schema=EVENTS_SCHEMA)


def test_pair_bounds_inclusive_start_exclusive_horizon(spark):
    mins = ATTR_WINDOW_US // 60_000_000          # window in minutes
    ev = _events_df(spark, [
        (1, 1000, 7, "click"),
        (2, 1000, 7, "view"),            # same instant: age 0, kept
        (3, 1000 - mins, 7, "view"),     # exactly window old: excluded
        (4, 1000 - mins + 1, 7, "view"),  # just inside
        (5, 1001, 7, "view"),            # after the click: excluded
        (6, 1000, 8, "view"),            # other user: excluded
    ])
    got = {(r["click_id"], r["imp_id"]): r["age_us"]
           for r in click_view_pairs(ev).collect()}
    assert got == {(1, 2): 0, (1, 4): (mins - 1) * 60_000_000}


def test_last_touch_tie_and_null_branch(spark):
    ev = _events_df(spark, [
        (1, 100, 7, "click"),
        (2, 90, 7, "view"),
        (3, 90, 7, "view"),      # same instant as 2: max id wins
        (4, 50, 7, "view"),
        (9, 100, 8, "click"),    # no views at all: NULL row survives
    ])
    rows = {r["click_id"]: r for r in last_touch(ev).collect()}
    assert rows[1]["imp_id"] == 3
    assert rows[1]["age_us"] == 10 * 60_000_000
    assert rows[9]["imp_id"] is None and rows[9]["age_us"] is None
    assert len(rows) == 2


def test_pairs_plan_is_equi_join_not_cartesian(spark):
    from ocr_platform_spark.operators.tables import load

    plan = click_view_pairs(load(spark, SF_DIR, "events")) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _drop(spark, inp, spec):
    _events_df(spark, spec).coalesce(1).write.mode("append").parquet(inp)


def _drain(spark, inp, out, ckpt):
    q = run_click_pairs_stream(spark, inp, out, ckpt)
    q.awaitTermination(120)


def test_stream_pairs_match_batch_and_drop_late_view(spark, tmp_path):
    inp, out, ckpt = (str(tmp_path / d) for d in ("ev", "pairs", "ckpt"))

    # the global watermark is the MIN across the two stream sides, so
    # BOTH sides must advance for anything to count as late: click 4
    # and view 8 push both maxima to t+600 → watermark t+480
    batch1 = [(1, 10, 7, "view"), (2, 40, 7, "click"),
              (3, 5, 7, "click"),          # before any view: no pair
              (4, 600, 9, "click"), (8, 600, 8, "view")]
    _drop(spark, inp, batch1)
    _drain(spark, inp, out, ckpt)

    # t+60 view is 7h behind the t+480 watermark (delay 2h): dropped;
    # view 1 (t+10) is already IN state from drain 1, so it still pairs
    # with the new click; the fresh view/click at t+605/610 pair too
    batch2 = [(5, 60, 7, "view"), (6, 605, 7, "view"),
              (7, 610, 7, "click")]
    _drop(spark, inp, batch2)
    _drain(spark, inp, out, ckpt)

    got = {(r["click_id"], r["imp_id"])
           for r in spark.read.parquet(out).collect()}
    on_time = batch1 + [(6, 605, 7, "view"), (7, 610, 7, "click")]
    want = {(r["click_id"], r["imp_id"])
            for r in click_view_pairs(_events_df(spark, on_time))
            .collect()}
    assert (2, 1) in want                 # protocol sanity
    assert got == want
    assert not any(i == 5 for _, i in got)   # the late view never pairs