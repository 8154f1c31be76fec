"""The flagship extraction job: pages table → extracted table + manifest.

Spark equivalent of the reference's whole queue pipeline
(apps/queue/src/pipeline/index.ts:8-130 + queues/page/worker.ts:19-106),
collapsed into ONE Spark job:

    read pages → place rows by (bucket rank, salt) → mapInPandas(extract)
               → write partitioned parquet + lineage manifest

Physical notes (SURVEY.md §4.2):
- ``bucket = pmod(xxhash64(url), n_buckets)`` is the unit of idempotent
  overwrite and resume. ``salt`` sub-splits each bucket deterministically so
  hot domains (Zipf-skewed, larger blobs) do not serialize one task —
  AQE's skew handling only covers join/shuffle-read skew, not UDF compute
  skew, so the salt is ours (§4.2.1).
- the exchange places each row directly (``repartitionById``): every task
  owns one contiguous run of the wave's (bucket rank, salt) keys, so a
  bucket lands in few tasks and a wave writes few files (``place_wave``).
- extraction runs in ``mapInPandas`` over Arrow batches — no per-row Python
  UDFs, no RDD.map (enforced by tests/test_no_per_row_python.py).
- each batch calls the pure-Python core (ocr_platform_spark.extract), the
  SAME module that generated the goldens, so Spark output is byte-identical
  to the oracle per url at any parallelism.
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

# default bucket count: on a real cluster this is sized so one bucket ≈
# a few GiB of input (e.g. 2^16 buckets for 100 TB); tests override smaller.
DEFAULT_BUCKETS = 64
# deterministic sub-split of each bucket for the extraction shuffle
DEFAULT_SALT = 4

SPAN_TYPE = ArrayType(StructType([
    StructField("block_id", IntegerType(), False),
    StructField("start", LongType(), False),
    StructField("end", LongType(), False),
    StructField("kind", StringType(), False),
]))

EXTRACTED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("lang", StringType(), True),
    StructField("extracted_text", StringType(), True),
    StructField("header", StringType(), True),
    StructField("body", StringType(), True),
    StructField("footnotes", StringType(), True),
    StructField("page_number", IntegerType(), True),
    StructField("total_words", IntegerType(), True),
    StructField("spans", SPAN_TYPE, True),
    StructField("failed_stage", StringType(), True),
    StructField("reason", StringType(), True),
    StructField("flags", ArrayType(StringType()), True),
    StructField("bytes_parsed", LongType(), True),
    StructField("blocks_kept", IntegerType(), True),
    StructField("blocks_dropped", IntegerType(), True),
    StructField("bucket", IntegerType(), False),
    # per-row share of its Arrow batch's wall time — rolls up to the
    # per-bucket cost in the manifest, the skew evidence SURVEY §4.2.1
    # calls for (compute cost, not byte size, is what salting balances)
    StructField("cost_ms", DoubleType(), True),
])


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Deterministic url-hash bucket — partition/resume/overwrite unit."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batch extraction kernel. One parser sweep per batch; the DOM
    parser instance is created per row but all Python objects stay inside
    the batch loop (init cost amortized across the Arrow batch, the Spark
    analogue of the reference's LRU PDF cache, ocr.ts:15-33)."""
    from ocr_platform_spark.extract import extract_document

    cols = [f.name for f in EXTRACTED_SCHEMA.fields]
    for pdf in batches:
        t0 = time.time()
        out = []
        langs = pdf["lang"] if "lang" in pdf else [None] * len(pdf)
        # optional transport-layer charset (WARC ingest threads it through;
        # the pages-table path never has the column, keeping the kernel a
        # pure function of (url, html))
        tcs = (pdf["transport_charset"] if "transport_charset" in pdf
               else [None] * len(pdf))
        for url, html, lang, bucket, tc in zip(
                pdf["url"], pdf["html"], langs, pdf["bucket"], tcs):
            r = extract_document(
                url, bytes(html) if html is not None else None,
                transport_charset=tc if isinstance(tc, str) and tc else None)
            out.append((
                r.url, lang, r.extracted_text, r.header, r.body, r.footnotes,
                r.page_number, r.total_words,
                [{"block_id": b, "start": s, "end": e, "kind": k}
                 for b, s, e, k in r.spans],
                r.failed_stage, r.reason, r.flags,
                r.bytes_parsed, r.blocks_kept, r.blocks_dropped,
                int(bucket),
            ))
        cost = (time.time() - t0) * 1000.0 / max(len(out), 1)
        yield pd.DataFrame((row + (cost,) for row in out), columns=cols)


def place_wave(df: DataFrame, n_buckets: int, salt: int,
               n_partitions: int | None = None,
               buckets: Sequence[int] | None = None) -> DataFrame:
    """Send each row of ``df`` (with ``bucket``) to the task that owns its key.

    The key is ``rank * salt + pmod(xxhash64(url, 1), salt)``, where rank is
    the bucket's position in the sorted wave ``buckets`` (default: all
    ``n_buckets``). With K buckets and N tasks, task ``key * N div (K *
    salt)`` owns one contiguous run of keys. So a bucket spans at most
    ``ceil(N / K) + 1`` tasks (2 when K >= N) and a wave writes at most
    ``K + N - 1`` files, while the salt still splits each bucket over
    several tasks when the wave has fewer buckets than tasks. Ranking
    within the wave, not over ``n_buckets``, keeps a small resume wave
    spread over every task. ``repartitionById`` takes the task id as is:
    no hash, no sampling job.
    """
    wave = sorted(set(buckets)) if buckets is not None else range(n_buckets)
    k = len(wave)
    if n_partitions is None:
        # two tasks per core keep waves balanced; more only add per-task
        # cost (~74 ms CPU each on a 4-core Xeon: shuffle read, Python
        # runner, Arrow streams, parquet writer and commit). K x salt
        # bounds it so a tiny input gets no empty tasks. At scale a task's
        # input is bounded by the max_buckets wave, not by this.
        cores = df.sparkSession.sparkContext.defaultParallelism
        n_partitions = min(k * salt, 2 * cores)
    if wave[-1] == k - 1:
        rank = F.col("bucket")  # the wave is buckets 0..K-1
    else:
        # int-array literal indexed by bucket (folded at planning: O(1) a
        # row); one string keeps it a single call at 2^16 buckets
        by_bucket = [0] * (wave[-1] + 1)
        for r, b in enumerate(wave):
            by_bucket[b] = r
        ranks = F.split(F.lit(",".join(map(str, by_bucket))), ",")
        rank = F.element_at(ranks.cast("array<int>"), F.col("bucket") + 1)
    key = (rank.cast("long") * salt
           + F.pmod(F.xxhash64("url", F.lit(1)), F.lit(salt)))
    task = F.call_function("div", key * n_partitions, F.lit(k * salt))
    return df.repartitionById(n_partitions, task.cast("int"))


def extract_pages(pages: DataFrame,
                  n_buckets: int = DEFAULT_BUCKETS,
                  salt: int = DEFAULT_SALT,
                  shuffle: bool = True,
                  n_partitions: int | None = None,
                  buckets: Sequence[int] | None = None) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → extracted DataFrame.

    ``shuffle=False`` skips the repartition when the input is already
    well-distributed (e.g. freshly generated from spark.range) — the
    classifier then runs map-side with zero shuffles. ``buckets`` names the
    wave the input holds (see ``place_wave``); None means all buckets.

    The repartition carries an EXPLICIT partition count: extraction cost is
    Python compute per row, not shuffle bytes, so AQE's byte-based partition
    coalescing (advisory 64 MiB) would collapse a compute-hours job into a
    handful of tasks and serialize it. An explicit count opts this one
    shuffle out of coalescing while AQE still optimizes every other stage.
    """
    df = with_bucket(pages, n_buckets)
    if shuffle:
        df = place_wave(df, n_buckets, salt, n_partitions, buckets)
    cols = ["url", "html", "lang", "bucket"]
    if "transport_charset" in df.columns:
        cols.append("transport_charset")
    return df.select(*cols).mapInPandas(
        _extract_batches, schema=EXTRACTED_SCHEMA)


def run_extraction_job(spark: SparkSession, pages: DataFrame,
                       output_path: str,
                       n_buckets: int = DEFAULT_BUCKETS,
                       salt: int = DEFAULT_SALT,
                       resume: bool = True,
                       run_id: str | None = None,
                       max_buckets: int | None = None) -> DataFrame:
    """Full job incl. resume + manifest; returns the extracted table read
    back from disk (what downstream queries see).

    ``max_buckets`` caps how many pending buckets this invocation
    processes (lowest bucket ids first, deterministic): the wave-bounded
    backfill knob — a giant catch-up runs as repeated bounded waves whose
    shuffle scratch is a wave's share of the corpus, each wave a normal
    resume (D6), until pending drains to zero."""
    from ocr_platform_spark.sources.manifest import (
        pending_buckets, read_output, write_with_manifest)

    run_id = run_id or uuid.uuid4().hex[:12]
    todo = with_bucket(pages, n_buckets)
    if resume:
        todo = pending_buckets(spark, todo, output_path)
    # one url-column-pruned scan yields BOTH the "anything pending?" answer
    # and the manifest scope (bucket cardinality <= n_buckets, tiny on the
    # driver even at the 2^16 cluster sizing) — no separate probe job
    todo_buckets = [r["bucket"]
                    for r in todo.select("bucket").distinct().collect()]
    if max_buckets is not None and len(todo_buckets) > max_buckets:
        todo_buckets = sorted(todo_buckets)[:max_buckets]
        todo = todo.filter(F.col("bucket").isin(todo_buckets))
    if todo_buckets:
        extracted = extract_pages(todo, n_buckets, salt, buckets=todo_buckets)
        return write_with_manifest(
            extracted, output_path, run_id,
            processed_buckets=spark.createDataFrame(
                [(b,) for b in todo_buckets], "bucket int"))
    return read_output(spark, output_path)
