"""Streaming corpus top-up: new crawl files → curated corpus, continuously.

`plans/corpus_job.py` is the one-shot batch build of a training corpus;
this module is its standing daily-top-up form, the job that keeps a
100 TB corpus current as crawl drops land:

    readStream over the pages directory
      → URL gate on the bare url (BEFORE the kernel — blocked rows
        never pay Python extraction, same invariant as the batch plan)
      → the identical extraction kernel   (streaming/ingest.extract_stream)
      → foreachBatch:
          failure routing → langid gate → Gopher gate
          → in-batch exact dedup + in-batch MinHash near-dup (the same
            stage functions the batch plan composes — co-arriving
            mirror pairs are resolved inside the drop)
          → CROSS-RUN near-dup against the persisted MinHash signature
            store (operators/incremental.incremental_ingest — prior text
            is never re-read; only signatures and the pruned band-bucket
            partitions are)
          → epoch-partitioned append to the corpus + a counters manifest

Why foreachBatch: the signature store is read-and-appended per batch —
a stateful side effect Structured Streaming's built-in sinks can't
express. The file-source checkpoint still guarantees each input file is
processed exactly once across restarts; within a batch, idempotency is
by construction:

- corpus rows land under ``ingest_epoch=<epoch_id>/`` with dynamic
  partition overwrite, so a replayed epoch REPLACES its own rows instead
  of duplicating them;
- the signature store is written the same way (epoch-partitioned
  dynamic overwrite) and the dedup check EXCLUDES the current epoch's
  store rows plus self-pairs, so a replayed micro-batch reaches the
  identical keep/drop decision it would have reached the first time —
  never matching against its own failed attempt
  (operators/incremental.incremental_ingest with ``epoch=``).

Same-url re-crawls in later drops are deliberately NOT dropped by the
near-dup store (a document is never a duplicate of itself — the
self-pair rule); url-level keep-newest is a separate policy stage
(dd_url_dedup) a consumer applies when reading the corpus.

Gates reuse the batch pipeline's shared expressions (`gopher_checks`,
`detect_language_udf`, same fingerprint), so a doc is kept by the stream
iff the batch pipeline would keep it given the same arrival order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_platform_spark.operators.incremental import incremental_ingest
from ocr_platform_spark.plans.corpus_job import (
    corpus_survivors, curation_input, derive_curation_cols, url_gate)
from ocr_platform_spark.streaming.ingest import extract_stream

CORPUS_COLS = ("url", "host", "lang", "lang_det", "n_tok", "fp")


def curate_extracted(extracted: DataFrame) -> DataFrame:
    """The batch curation over an already-extracted micro-batch — the
    batch plan's own stages (url_gate, curation_input,
    derive_curation_cols, corpus_survivors), so batch and stream cannot
    drift on gates, fingerprints, or dedup policy. In-batch near-dups are
    removed HERE (co-arriving mirror pairs); cross-run near-dups against
    prior drops are the signature store's job afterwards."""
    return corpus_survivors(derive_curation_cols(
        curation_input(url_gate(extracted))))


def _process_batch(batch: DataFrame, epoch_id: int, corpus_dir: str,
                   store_dir: str) -> None:
    spark = batch.sparkSession
    batch = batch.persist()
    gated = curate_extracted(batch).persist()
    survivors = incremental_ingest(
        spark,
        gated.select(F.col("url").alias("doc_id"), "text",
                     "host", "lang", "lang_det", "n_tok", "fp"),
        store_dir, epoch=str(int(epoch_id)))
    out = (survivors
           .select(F.col("doc_id").alias("url"), "host", "lang",
                   "lang_det", "n_tok", "fp")
           .withColumn("ingest_epoch", F.lit(int(epoch_id)))
           .persist())
    (out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("ingest_epoch").parquet(corpus_dir + "/docs"))
    counters = spark.createDataFrame(
        [(int(epoch_id), int(batch.count()), int(gated.count()),
          int(out.count()))],
        "ingest_epoch long, extracted long, gated long, ingested long")
    (counters.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("ingest_epoch").parquet(corpus_dir + "/manifest"))
    out.unpersist()
    gated.unpersist()
    batch.unpersist()


def run_corpus_stream(spark: SparkSession, input_dir: str, corpus_dir: str,
                      store_dir: str, checkpoint_dir: str,
                      n_buckets: int = 64):
    """Drain every unprocessed pages file through extract → curate →
    incremental dedup into the corpus (AvailableNow; call again whenever
    new crawl files land — the checkpoint's file log resumes exactly
    where the last run stopped)."""
    ext = extract_stream(spark, input_dir, n_buckets, pre_gate=url_gate)
    return (ext.writeStream
            .foreachBatch(lambda df, eid: _process_batch(
                df, eid, corpus_dir, store_dir))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_corpus(spark: SparkSession, corpus_dir: str) -> DataFrame:
    return spark.read.parquet(corpus_dir + "/docs")


def read_manifest(spark: SparkSession, corpus_dir: str) -> DataFrame:
    return spark.read.parquet(corpus_dir + "/manifest")
