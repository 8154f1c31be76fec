"""Interval join + last-touch attribution — batch AND stream-stream.

The remaining Structured-Streaming join shape the repo's streaming
surface lacked: a STREAM-STREAM join. The canonical instance is ad
attribution — every ``click`` event joined to the ``view`` (impression)
events of the same user within a trailing attribution window. Spark
runs exactly this as a watermarked stream-stream inner join (the time-
range predicate bounds both join state buffers); the batch twin is the
same declarative join over the static table, so the two are one
semantics with two physical shapes — pinned against each other in
tests/test_attribution.py, the sessionize/windowed pattern.

Two driver queries:

- ``ev_click_pairs``: the full candidate set — one row per (click,
  view) pair with the view at-or-before the click and strictly inside
  the window (age_us in [0, WINDOW)). Epoch-microsecond BIGINTs leave
  the query, never raw timestamps (hash portability, the round-2
  lesson); the oracle is the same inequality join in DuckDB.
- ``ev_last_touch``: last-touch attribution — every click keeps
  exactly one row; the winning view is the MAX-STRUCT AGGREGATE over
  (imp_us, imp_id) (instant ties resolve to max id, the asof rule),
  and unattributed clicks survive with NULLs via the left join (the
  never-drop branch, live: most clicks have no view inside the
  window). DuckDB mirrors the struct max with ``max(ROW(...))[i]``.

Scale shape: the pair join is an EQUI-join on user_id with the range
predicate evaluated inside the sort-merge/hash join — never a
cartesian (plan-pinned). One shuffle of each side keyed on user_id;
a bot user concentrates its clicks x views product in one task, the
same hot spot sessionize_partitioned treats — at that point the
window bound caps the blow-up per (user, day) and the salted
two-phase split applies unchanged (documented, not duplicated here).
In streaming mode the watermark + range constraint bound the state
store: a view is dropped from state once the watermark passes
view-time + WINDOW. Mind the GLOBAL watermark: it is the MIN across
the two stream sides' watermarks (multipleWatermarkPolicy default),
so a side whose event-time max lags holds the whole join's lateness
horizon back — the parity test advances both sides explicitly before
asserting the late-view drop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_platform_spark.streaming.ingest import drain
from ocr_platform_spark.streaming.windowed import WATERMARK, events_stream

ATTR_WINDOW = "24 hours"
ATTR_WINDOW_US = 24 * 3600 * 1_000_000


def _typed(events: DataFrame, event_type: str, prefix: str) -> DataFrame:
    # parquet NTZ → session-TZ timestamp (UTC session, the asof pattern:
    # operators/asof.py:146) so unix_micros resolves; a no-op for the
    # streaming reader whose schema is already TimestampType
    return (events.where(F.col("event_type") == event_type)
            .select(F.col("event_id").alias(f"{prefix}_id"),
                    "user_id",
                    F.col("ts").cast("timestamp").alias(f"{prefix}_ts")))


def click_view_pairs(events: DataFrame) -> DataFrame:
    """(click, view) candidate pairs: same user, view at-or-before the
    click, strictly inside the attribution window."""
    clicks = _typed(events, "click", "click")
    views = _typed(events, "view", "imp").withColumnRenamed(
        "user_id", "imp_user_id")
    joined = clicks.join(
        views,
        (F.col("user_id") == F.col("imp_user_id"))
        & (F.col("imp_ts") <= F.col("click_ts"))
        & (F.col("imp_ts") > F.col("click_ts")
           - F.expr(f"INTERVAL {ATTR_WINDOW}")))
    return joined.select(
        "click_id", "user_id",
        F.unix_micros("click_ts").alias("click_us"),
        "imp_id", F.unix_micros("imp_ts").alias("imp_us"),
        (F.unix_micros("click_ts") - F.unix_micros("imp_ts"))
        .alias("age_us"))


def last_touch(events: DataFrame) -> DataFrame:
    """One row per click with its winning (latest, max-id on ties) view
    or NULLs — the attribution output a spend report joins."""
    pairs = click_view_pairs(events)
    best = (pairs.groupBy("click_id")
            .agg(F.max(F.struct(F.col("imp_us").alias("u"),
                                F.col("imp_id").alias("i"))).alias("k"))
            .select("click_id", F.col("k.i").alias("imp_id"),
                    F.col("k.u").alias("imp_us")))
    clicks = (_typed(events, "click", "click")
              .select("click_id", "user_id",
                      F.unix_micros("click_ts").alias("click_us")))
    return (clicks.join(best, "click_id", "left")
            .select("click_id", "user_id", "click_us", "imp_id",
                    (F.col("click_us") - F.col("imp_us"))
                    .alias("age_us")))


def ev_click_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_platform_spark.operators.tables import load

    return click_view_pairs(load(spark, sf_dir, "events"))


def ev_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_platform_spark.operators.tables import load

    return last_touch(load(spark, sf_dir, "events"))


_PAIRS_CORE = f"""
SELECT c.event_id AS click_id, c.user_id, epoch_us(c.ts) AS click_us,
       v.event_id AS imp_id, epoch_us(v.ts) AS imp_us,
       epoch_us(c.ts) - epoch_us(v.ts) AS age_us
FROM events c JOIN events v
  ON c.user_id = v.user_id
 AND c.event_type = 'click' AND v.event_type = 'view'
 AND v.ts <= c.ts AND v.ts > c.ts - INTERVAL '{ATTR_WINDOW}'
"""

EV_CLICK_PAIRS_SQL = _PAIRS_CORE

EV_LAST_TOUCH_SQL = f"""
WITH pairs AS ({_PAIRS_CORE}),
best AS (
  SELECT click_id, max(ROW(imp_us, imp_id))[2] AS imp_id,
         max(ROW(imp_us, imp_id))[1] AS imp_us
  FROM pairs GROUP BY click_id
)
SELECT c.event_id AS click_id, c.user_id, epoch_us(c.ts) AS click_us,
       b.imp_id, epoch_us(c.ts) - b.imp_us AS age_us
FROM events c LEFT JOIN best b ON c.event_id = b.click_id
WHERE c.event_type = 'click'
"""


def stream_click_pairs(spark: SparkSession, input_dir: str) -> DataFrame:
    """Stream-stream twin: two watermarked reads of the same drop
    directory, inner-joined with the identical range predicate. The
    range constraint lets Spark evict a buffered view once the
    watermark passes view_ts + WINDOW."""
    def side(event_type: str, prefix: str) -> DataFrame:
        return _typed(events_stream(spark, input_dir), event_type,
                      prefix).withWatermark(f"{prefix}_ts", WATERMARK)

    clicks = side("click", "click")
    views = side("view", "imp").withColumnRenamed("user_id",
                                                  "imp_user_id")
    joined = clicks.join(
        views,
        F.expr(f"""user_id = imp_user_id AND imp_ts <= click_ts
                   AND imp_ts > click_ts - INTERVAL {ATTR_WINDOW}"""))
    return joined.select(
        "click_id", "user_id",
        F.unix_micros("click_ts").alias("click_us"),
        "imp_id", F.unix_micros("imp_ts").alias("imp_us"),
        (F.unix_micros("click_ts") - F.unix_micros("imp_ts"))
        .alias("age_us"))


def run_click_pairs_stream(spark: SparkSession, input_dir: str,
                           output_dir: str, checkpoint_dir: str):
    return drain(stream_click_pairs(spark, input_dir), output_dir,
                 checkpoint_dir)


QUERIES: dict = {
    # wave 54: interval join + last-touch attribution, beyond-window
    "ev_click_pairs": (ev_click_pairs, EV_CLICK_PAIRS_SQL),
    "ev_last_touch": (ev_last_touch, EV_LAST_TOUCH_SQL),
}
