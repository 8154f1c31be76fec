"""Incremental extraction over newly-arriving crawl files (Structured
Streaming).

The reference processes pages as BullMQ queue jobs arriving over time
(apps/queue/src/queues/page/worker.ts:19-106). The batch engine replaces
the queue with partition scheduling (plans/extract_job.py); this module is
the continuous-ingest variant of the SAME transform: a file-source stream
over the pages table directory → the identical ``mapInPandas`` extraction
kernel → an append sink with checkpointing.

Why this shape at 10^12-doc scale:
- ``readStream`` file source lists only NEW files per micro-batch. No
  ``maxFilesPerTrigger`` is set, so one drain reads every new file in a
  single micro-batch: its size is not bounded, it is the size of the
  drop;
- the extraction kernel is literally ``extract_pages`` — same bucketing,
  same salt, same Arrow batches, so streamed output is byte-identical to a
  batch run over the same files (asserted in tests/test_streaming.py);
- the checkpoint (WAL + file-source log) gives exactly-once file
  processing across restarts — the streaming analogue of the batch
  manifest resume (sources/manifest.py);
- ``Trigger.AvailableNow`` drains the backlog then stops, which is how an
  incremental daily top-up runs on a real cluster (and how tests run it).
  ``drain`` is that sink for every stream job in the package (ingest,
  the event-time aggregates, the anchor pass); only the corpus top-up
  (plans/corpus_stream.py) writes through its own ``foreachBatch``.

The watermark/stateful-aggregation surface is intentionally absent: the
reference has no event-time semantics (SURVEY.md §2.6) — its queue is a
work queue, not a stream of events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ocr_platform_spark.plans.extract_job import extract_pages
from ocr_platform_spark.sources.pages import PAGES_SCHEMA


def drain(df: DataFrame, output_dir: str, checkpoint_dir: str):
    """Drain every file the stream has not processed yet into a parquet
    append sink, then stop; returns the StreamingQuery. Call again as new
    files land: the checkpoint's file log makes each file exactly-once
    across runs and restarts, like batch resume from the manifest."""
    return (df.writeStream
            .format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def extract_stream(spark: SparkSession, input_dir: str,
                   n_buckets: int = 64, pre_gate=None) -> DataFrame:
    """Streaming DataFrame of extraction results over a growing pages dir.

    The transform is the batch plan verbatim — ``extract_pages`` with
    ``shuffle=False`` (a repartition would force a stateless shuffle per
    micro-batch; the file source already yields well-sized splits, and
    bucket assignment stays deterministic per url either way).

    ``pre_gate`` (DataFrame → DataFrame, row-level filters only) runs on
    the pages stream BEFORE the kernel — the streaming seat of the batch
    plan's gate-before-extraction invariant (blocked urls never pay
    Python extraction).
    """
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    if pre_gate is not None:
        pages = pre_gate(pages)
    return extract_pages(pages, n_buckets=n_buckets, shuffle=False)


def warc_extract_stream(spark: SparkSession, warc_dir: str,
                        n_buckets: int = 64) -> DataFrame:
    """The full incremental-crawl path in ONE streaming plan: WARC
    container files land in a directory → parse (sources/warc.py kernel)
    → clean-capture projection → the identical extraction kernel. This is
    the job a daily Common-Crawl top-up runs: new ~1 GiB .warc.gz files
    are each one task (no shuffle anywhere), and the checkpoint file log
    makes re-runs exactly-once per FILE — the crawl's own delivery
    granularity."""
    from ocr_platform_spark.sources.warc import read_warc_stream, warc_pages

    records = read_warc_stream(spark, warc_dir)
    # the ingest path HAS the HTTP head in hand — thread the Content-Type
    # charset through so header-only-labeled legacy captures decode
    # correctly (extract/charset.py ranks it BOM > transport > meta); the
    # pages-TABLE path stays a pure function of (url, html) by contract
    return extract_pages(warc_pages(records, with_transport_charset=True),
                         n_buckets=n_buckets, shuffle=False)


def run_warc_ingest_stream(spark: SparkSession, warc_dir: str,
                           output_dir: str, checkpoint_dir: str,
                           n_buckets: int = 64):
    """Drain all unprocessed WARC files into the extracted-pages sink."""
    return drain(warc_extract_stream(spark, warc_dir, n_buckets),
                 output_dir, checkpoint_dir)


def run_ingest_stream(spark: SparkSession, input_dir: str, output_dir: str,
                      checkpoint_dir: str, n_buckets: int = 64):
    """Drain all unprocessed pages files into the extracted-pages sink."""
    return drain(extract_stream(spark, input_dir, n_buckets),
                 output_dir, checkpoint_dir)


# --- structured-extraction kernels over the same file-source stream --------
# The metadata and table kernels (operators/pagemeta.page_metadata,
# tablex.page_tables) are stateless map_rows projections, so they stream
# exactly like the text-extraction kernel: file source lists new files,
# the IDENTICAL kernel maps each micro-batch of the pages as they are,
# the checkpoint gives exactly-once per file. Streamed output is
# byte-identical to a batch run over the same files
# (tests/test_streaming.py), which is what lets an incremental daily
# top-up share one downstream schema with the backfill.

def metadata_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    from ocr_platform_spark.operators.pagemeta import page_metadata

    return page_metadata(
        spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir))


def tables_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    from ocr_platform_spark.operators.tablex import page_tables

    return page_tables(
        spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir))


def run_metadata_stream(spark: SparkSession, input_dir: str,
                        output_dir: str, checkpoint_dir: str):
    return drain(metadata_stream(spark, input_dir), output_dir,
                 checkpoint_dir)


def run_tables_stream(spark: SparkSession, input_dir: str,
                      output_dir: str, checkpoint_dir: str):
    return drain(tables_stream(spark, input_dir), output_dir,
                 checkpoint_dir)
