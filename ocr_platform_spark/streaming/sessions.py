"""Sessionization: inactivity-gap sessions per user — batch (driver query
with a DuckDB gaps-and-islands oracle) and streaming via
``applyInPandasWithState`` (the brief's "custom stateful operators").

Semantics (both paths, pinned against each other in
tests/test_streaming_sessions.py): events of one ``user_id`` ordered by
``ts`` belong to one session while consecutive gaps are ≤ GAP_US
microseconds; a larger gap starts the next session. Output one row per
session: 1-based ``session_idx`` in start order, epoch-second start/end,
event count, exact cents sum.

Hash-portability: the gap compare runs on integer MICROSECONDS on both
engines (Spark ``unix_micros`` vs DuckDB ``epoch_us``) — a floored-seconds
compare can flip sessions whose gap straddles 1800s by <1s. Money is
per-row BIGINT cents (order-independent sums).

Scale shape — batch: one shuffle on ``user_id`` (window lag + running
sum are per-user linear scans); hot users (bots) are the skew risk and
ride the same salting/AQE knobs as every keyed shuffle here. Streaming:
``applyInPandasWithState`` keeps ONE open session struct per active user
(bounded state), closes it via event-time timeout when the watermark
passes ``last_ts + gap``, and emits exactly the batch rows — late rows
behind the watermark are dropped by Spark before the state function runs.

The reference has no sessions (work queue, not events — SURVEY §2.6);
this is the standard telemetry operator its replacement pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ocr_platform_spark.streaming.ingest import drain
from ocr_platform_spark.streaming.windowed import WATERMARK, events_stream

GAP_US = 1800 * 1_000_000            # 30-minute inactivity gap

SESSION_SCHEMA = StructType([
    StructField("user_id", LongType(), False),
    StructField("session_idx", LongType(), False),
    StructField("session_start", LongType(), False),
    StructField("session_end", LongType(), False),
    StructField("n_events", LongType(), False),
    StructField("sum_value_cents", LongType(), False),
])

_STATE_SCHEMA = StructType([
    StructField("start_us", LongType(), True),
    StructField("last_us", LongType(), True),
    StructField("n", LongType(), True),
    StructField("cents", LongType(), True),
    StructField("next_idx", LongType(), True),
])


def sessionize(events: DataFrame) -> DataFrame:
    """Batch gaps-and-islands: lag + running sum per user, then one
    aggregation per session."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (events
               # parquet ts arrives NTZ; session TZ is pinned UTC, so the
               # LTZ cast is an exact epoch reinterpretation
               .withColumn("us", F.unix_micros(F.col("ts").cast("timestamp")))
               .withColumn("cents",
                           F.round(F.col("value") * 100).cast("long"))
               .withColumn("prev_us", F.lag("us").over(w))
               .withColumn("new_s",
                           (F.col("prev_us").isNull()
                            | (F.col("us") - F.col("prev_us") > GAP_US))
                           .cast("long")))
    sess = flagged.withColumn("session_idx", F.sum("new_s").over(w))
    return (sess.groupBy("user_id", "session_idx")
            .agg(F.floor(F.min("us") / 1_000_000).alias("session_start"),
                 F.floor(F.max("us") / 1_000_000).alias("session_end"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.sum("cents").alias("sum_value_cents")))


def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_platform_spark.operators.tables import load

    return sessionize(load(spark, sf_dir, "events"))


# Width of the phase-1 time buckets in sessionize_partitioned. Correctness
# does NOT depend on the width (any monotone time bucketing preserves the
# run decomposition — see proof in the docstring); it only tunes how many
# tasks a hot user spreads across.
SESSION_BUCKET_US = 6 * 3600 * 1_000_000


def sessionize_partitioned(events: DataFrame,
                           bucket_us: int = SESSION_BUCKET_US) -> DataFrame:
    """Skew-proof sessionize: identical output to ``sessionize``, but the
    event-scale scan shuffles on (user_id, time_bucket) instead of raw
    user_id — a bot user with 100x the events spreads over time buckets
    instead of landing in one straggler task.

    Two phases:

    1. **Local runs** per (user_id, bucket): the same gaps-and-islands
       scan, but windowed inside the bucket. A "run" is a maximal set of
       bucket-local events with inter-event gaps <= GAP_US, reduced to
       (start_us, end_us, n, cents) — one row per run, so phase 2 never
       sees individual events.
    2. **Boundary merge** per user: runs ordered by start_us partition the
       user's events contiguously in time (bucketing is monotone in ts),
       so the gap between run k and run k+1 IS the gap between their
       adjacent events; chaining runs while that gap <= GAP_US
       reconstructs exactly the global sessions — a session spanning N
       buckets is N runs merged transitively. Runs inside one bucket
       never merge (they were split by a real > GAP_US gap).

    Phase 2's per-user window is the only raw-user_id shuffle and its
    input is runs, not events: a dense bot collapses to ~1 run per bucket
    (its gaps are small — that's what makes it a bot), so the straggler
    scan that motivated this variant disappears; a sparse user's runs are
    bounded by its real session count. NULL-safety: ts/value rows with
    NULLs are excluded the same way both engines' window frames exclude
    them in the plain variant (events table has none — schema-enforced).
    """
    wb = Window.partitionBy("user_id", "bucket").orderBy("us", "event_id")
    flagged = (events
               .withColumn("us", F.unix_micros(F.col("ts").cast("timestamp")))
               .withColumn("cents",
                           F.round(F.col("value") * 100).cast("long"))
               .withColumn("bucket",
                           F.call_function("div", F.col("us"),
                                           F.lit(int(bucket_us)).cast("long")))
               .withColumn("prev_us", F.lag("us").over(wb))
               .withColumn("new_r",
                           (F.col("prev_us").isNull()
                            | (F.col("us") - F.col("prev_us") > GAP_US))
                           .cast("long")))
    runs = (flagged.withColumn("run_idx", F.sum("new_r").over(wb))
            .groupBy("user_id", "bucket", "run_idx")
            .agg(F.min("us").alias("start_us"), F.max("us").alias("end_us"),
                 F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents")))
    wu = Window.partitionBy("user_id").orderBy("start_us")
    merged = (runs
              .withColumn("prev_end", F.lag("end_us").over(wu))
              .withColumn("new_s",
                          (F.col("prev_end").isNull()
                           | (F.col("start_us") - F.col("prev_end") > GAP_US))
                          .cast("long"))
              .withColumn("session_idx", F.sum("new_s").over(wu)))
    return (merged.groupBy("user_id", "session_idx")
            .agg(F.floor(F.min("start_us") / 1_000_000)
                 .alias("session_start"),
                 F.floor(F.max("end_us") / 1_000_000).alias("session_end"),
                 F.sum("n").alias("n_events"),
                 F.sum("cents").alias("sum_value_cents")))


def ev_sessionize_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query for the skew-proof variant — same oracle as
    ev_sessionize (the semantics are identical; only the plan differs)."""
    from ocr_platform_spark.operators.tables import load

    return sessionize_partitioned(load(spark, sf_dir, "events"))


EV_SESSIONIZE_SQL = """
WITH flagged AS (
    SELECT user_id, event_id,
           epoch_us(ts) AS us,
           CAST(round(value * 100) AS BIGINT) AS cents,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
    SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_idx
    FROM flagged
)
SELECT user_id,
       -- both casts matter: DuckDB SUM over BIGINT yields HUGEINT (both the
       -- running-sum session_idx and the cents sum), which hashes differently
       -- than int64 in the driver's typed compare
       CAST(session_idx AS BIGINT) AS session_idx,
       CAST(floor(MIN(us) / 1000000) AS BIGINT) AS session_start,
       CAST(floor(MAX(us) / 1000000) AS BIGINT) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS sum_value_cents
FROM sess GROUP BY user_id, session_idx
"""


def _session_state_fn(key, pdf_iter, state):
    """applyInPandasWithState kernel: one open-session struct per user.

    Timeout path: the watermark passed last_us + GAP — close and emit.
    Data path: fold the batch's (sorted) events into the open session,
    emitting every session that a large gap closes; re-arm the timeout
    for the one left open.
    """
    import pandas as pd

    (user_id,) = key
    out = []

    if state.hasTimedOut:
        start_us, last_us, n, cents, next_idx = state.get
        out.append((user_id, next_idx, start_us // 1_000_000,
                    last_us // 1_000_000, n, cents))
        state.remove()
    else:
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows["us"] = rows["ts"].astype("int64")  # pandas ts → ns
        rows["us"] //= 1000
        rows["cents"] = rows["value"].mul(100).round().astype("int64")
        rows = rows.sort_values(["us", "event_id"])

        if state.exists:
            start_us, last_us, n, cents, next_idx = state.get
        else:
            start_us = last_us = None
            n = cents = 0
            next_idx = 1

        for us, c in zip(rows["us"], rows["cents"]):
            us, c = int(us), int(c)
            if start_us is None:
                start_us, last_us, n, cents = us, us, 1, c
            elif us - last_us > GAP_US:
                out.append((user_id, next_idx, start_us // 1_000_000,
                            last_us // 1_000_000, n, cents))
                next_idx += 1
                start_us, last_us, n, cents = us, us, 1, c
            else:
                last_us, n, cents = us, n + 1, cents + c
        if start_us is not None:
            state.update((start_us, last_us, n, cents, next_idx))
            # close via event-time timeout once the watermark passes the
            # inactivity gap (ms granularity)
            state.setTimeoutTimestamp(last_us // 1000 + GAP_US // 1000)

    if out:
        yield pd.DataFrame(out, columns=[f.name for f in
                                         SESSION_SCHEMA.fields])


def sessionize_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming sessionization: same output rows as ``sessionize`` for
    every session the watermark has closed."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    events = events_stream(spark, input_dir).withWatermark("ts", WATERMARK)
    return (events.groupBy("user_id")
            .applyInPandasWithState(
                _session_state_fn, SESSION_SCHEMA, _STATE_SCHEMA,
                "append", GroupStateTimeout.EventTimeTimeout))


def run_session_stream(spark: SparkSession, input_dir: str, output_dir: str,
                       checkpoint_dir: str):
    return drain(sessionize_stream(spark, input_dir), output_dir,
                 checkpoint_dir)


QUERIES: dict = {
    "ev_sessionize": (ev_sessionize, EV_SESSIONIZE_SQL),
    # same semantics, skew-proof plan — the oracle is shared on purpose
    "ev_sessionize_skew": (ev_sessionize_skew, EV_SESSIONIZE_SQL),
}
