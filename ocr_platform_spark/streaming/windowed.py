"""Event-time windowed aggregation — one transform, batch AND streaming.

The brief's streaming surface ("watermarks + windowed aggs for late
data") over the ``events`` table: tumbling 1-hour windows per
``event_type`` with count + money sum. ``windowed_event_aggregate`` is a
pure DataFrame transform, so the SAME plan runs as

- a batch driver query (``ev_windowed_agg``, DuckDB ``time_bucket``
  oracle), and
- a Structured Streaming query (``stream_windowed_aggregate``):
  ``readStream`` file source → ``withWatermark("ts", ...)`` → the
  transform → append sink. Append mode emits a window exactly once, when
  the watermark passes its end; rows later than the watermark are dropped
  before aggregation — both behaviors pinned in
  tests/test_streaming_windowed.py against the batch plan as oracle.

Hash-portability choices (see BENCH/BASELINE.md round-2 notes): window
boundaries leave the query as epoch SECONDS (BIGINT) — never raw
timestamps — and money sums are per-row ``round(value*100)`` BIGINT cents
summed exactly, so Spark/DuckDB float summation order cannot diverge.

Scale shape: tumbling-window groupBy is a single hash aggregation with
map-side partial combine; state in streaming mode is bounded by
(windows in watermark horizon × event types), independent of input rate.
The reference has no event-time analytics (its queue is a work queue —
SURVEY §2.6); this is the training-pipeline telemetry rollup a 100 TB
ingest runs beside extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from ocr_platform_spark.streaming.ingest import drain

EVENTS_SCHEMA = StructType([
    StructField("event_id", LongType(), True),
    StructField("ts", TimestampType(), True),
    StructField("user_id", LongType(), True),
    StructField("event_type", StringType(), True),
    StructField("value", DoubleType(), True),
    StructField("props", StringType(), True),
])

WINDOW = "1 hour"
# event-time lateness every stream here tolerates (windowed, sessions,
# attribution); rows further behind the max seen ts are dropped
WATERMARK = "2 hours"


def windowed_event_aggregate(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour (window_start, event_type) → count + exact cents."""
    return (events
            .withColumn("value_cents",
                        F.round(F.col("value") * 100).cast("long"))
            .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value_cents").alias("sum_value_cents"))
            .select(F.unix_timestamp(F.col("w.start"))
                    .alias("window_start"),
                    "event_type", "n_events", "sum_value_cents"))


def ev_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_platform_spark.operators.tables import load

    return windowed_event_aggregate(load(spark, sf_dir, "events"))


EV_WINDOWED_SQL = """
SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts))) AS BIGINT)
           AS window_start,
       event_type,
       COUNT(*) AS n_events,
       -- outer cast matters: DuckDB SUM(BIGINT) returns HUGEINT, which the
       -- driver's typed hasher stringifies differently than int64 (the only
       -- hash-red rows in CORRECTNESS_r04 were the two uncast ev_* SUMs)
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_value_cents
FROM events
GROUP BY 1, 2
"""


# --- hopping (sliding) windows ---------------------------------------------
# The overlapping-window twin of the tumbling aggregate: 1-hour windows
# every 30 minutes, so each event lands in EXACTLY two windows (slide
# divides width — the constant-fanout case every metrics pipeline uses
# for smoothed rates). Spark expresses it natively (F.window with a
# slideDuration); the oracle replicates the window-assignment rule
# explicitly: the containing starts are the event's 30-minute bucket
# and the one before it. Same fixed-point cents + the r04 outer-CAST
# lesson as the tumbling SQL.

HOP_WINDOW, HOP_SLIDE = "1 hour", "30 minutes"


def hopping_event_aggregate(events: DataFrame) -> DataFrame:
    return (events
            .withColumn("value_cents",
                        F.round(F.col("value") * 100).cast("long"))
            .groupBy(F.window("ts", HOP_WINDOW, HOP_SLIDE).alias("w"),
                     "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value_cents").alias("sum_value_cents"))
            .select(F.unix_timestamp(F.col("w.start"))
                    .alias("window_start"),
                    "event_type", "n_events", "sum_value_cents"))


def ev_hopping_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_platform_spark.operators.tables import load

    return hopping_event_aggregate(load(spark, sf_dir, "events"))


EV_HOPPING_SQL = """
SELECT CAST(floor(epoch(time_bucket(INTERVAL '30 minutes', ts)))
            AS BIGINT) - k.k * 1800 AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_value_cents
FROM events, unnest([0, 1]) AS k(k)
GROUP BY 1, 2
"""


def events_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream over a directory of ``events`` parquet drops."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)


def stream_windowed_aggregate(spark: SparkSession,
                              input_dir: str) -> DataFrame:
    """Streaming variant: identical plan behind a watermark."""
    events = events_stream(spark, input_dir)
    return windowed_event_aggregate(events.withWatermark("ts", WATERMARK))


def run_windowed_stream(spark: SparkSession, input_dir: str,
                        output_dir: str, checkpoint_dir: str):
    """Drain available files into an append parquet sink (exactly-once via
    the checkpoint; finalized windows only). Returns the StreamingQuery."""
    return drain(stream_windowed_aggregate(spark, input_dir), output_dir,
                 checkpoint_dir)


def stream_hopping_aggregate(spark: SparkSession,
                             input_dir: str) -> DataFrame:
    """Streaming twin of the hopping aggregate: identical plan behind a
    watermark (Spark's sliding window is stateful-streaming-native)."""
    events = events_stream(spark, input_dir)
    return hopping_event_aggregate(events.withWatermark("ts", WATERMARK))


def run_hopping_stream(spark: SparkSession, input_dir: str,
                       output_dir: str, checkpoint_dir: str):
    return drain(stream_hopping_aggregate(spark, input_dir), output_dir,
                 checkpoint_dir)


QUERIES: dict = {
    # wave 41: hopping windows, beyond-window (local-gate record)
    "ev_hopping_agg": (ev_hopping_agg, EV_HOPPING_SQL),
    "ev_windowed_agg": (ev_windowed_agg, EV_WINDOWED_SQL),
}
