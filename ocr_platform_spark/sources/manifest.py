"""Per-partition lineage manifests + exact resume-from-checkpoint.

The reference tracks progress as mutable Postgres counters and re-enqueues
failed pages one at a time (ref apps/queue/src/routes/ocr.ts:90-136,
apps/queue/src/queues/book/worker.ts:38-44). Spark-first equivalent
(SURVEY.md §2.5 D4-D6):

- output is partitioned by a deterministic url-hash ``bucket`` column;
- each successful run APPENDS one manifest row per bucket with lineage
  counters (docs in/out, bytes parsed, blocks kept/dropped — the exact
  counters named in BASELINE.json's north_star);
- writes use dynamic partition overwrite, so re-running a bucket is
  idempotent (the S7 upsert/redo path);
- resume = anti-join of the bucket universe against the manifest: only
  missing buckets are read (and with parquet/Iceberg partition pruning the
  skipped buckets are never scanned).

Manifest rows are derived by aggregating the ACTUAL written output — not by
accumulators, which double-count under task retries. The output is listed
on the driver (``read_output``): a distributed listing job costs more than
it saves for a few thousand bucket directories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# bucket directories up to which the output is listed on the driver; above
# it (2^16-bucket layouts on object stores) Spark lists them in a job
DRIVER_LISTING_MAX_PATHS = 1024

MANIFEST_COLS = [
    "bucket", "run_id", "docs_in", "docs_out", "docs_failed",
    "bytes_parsed", "blocks_kept", "blocks_dropped", "total_words",
    "cost_ms",
]


def manifest_path(output_path: str) -> str:
    return output_path.rstrip("/") + "_manifest"


def read_output(spark: SparkSession, output_path: str) -> DataFrame:
    """The partitioned output, listed on the driver. Spark's default
    discovery threshold (32 paths) would start a distributed listing job
    for any output with more bucket directories than that; the session's
    own threshold is restored once the listing is done."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(DRIVER_LISTING_MAX_PATHS))
    try:
        return spark.read.parquet(output_path)
    finally:
        spark.conf.set(key, prev)


def build_manifest(extracted: DataFrame, run_id: str) -> DataFrame:
    """One lineage row per bucket, aggregated from extraction output.

    ``docs_out == docs_in`` by construction (rows are flagged, never dropped
    — ref apps/queue/src/queues/page/worker.ts:61-66); ``docs_failed``
    counts error-envelope rows.
    """
    return (
        extracted.groupBy("bucket")
        .agg(
            F.count("*").alias("docs_in"),
            F.count("*").alias("docs_out"),
            F.count(F.col("failed_stage")).alias("docs_failed"),
            F.sum("bytes_parsed").alias("bytes_parsed"),
            F.sum("blocks_kept").alias("blocks_kept"),
            F.sum("blocks_dropped").alias("blocks_dropped"),
            F.sum("total_words").alias("total_words"),
            # extraction compute cost per bucket (ms) — max/mean across
            # buckets quantifies residual skew after salting
            F.round(F.coalesce(F.sum("cost_ms"), F.lit(0.0)), 2)
            .alias("cost_ms"),
        )
        .withColumn("run_id", F.lit(run_id))
        .select(*MANIFEST_COLS)
    )


def write_with_manifest(extracted: DataFrame, output_path: str,
                        run_id: str,
                        processed_buckets: DataFrame | None = None,
                        table: str | None = None) -> DataFrame:
    """Write extraction output partitioned by bucket + append manifest rows;
    returns the whole output read back (the table downstream queries see),
    listed on the driver by ``read_output`` on the parquet path.

    Two sinks behind one seam (SURVEY §7):

    - ``table`` set → DataSourceV2 catalog path: ``writeTo(table)
      .overwritePartitions()`` — on an Iceberg catalog this is the atomic
      per-partition replace; the manifest appends to ``<table>_manifest``.
      (No Iceberg runtime ships in this container, so this branch is
      covered by a call-shape unit test, not an end-to-end run.)
    - otherwise → parquet fallback at ``output_path`` with dynamic
      partition overwrite — same idempotent-per-bucket semantics.

    Either way a re-run of bucket k replaces exactly bucket k (the S7
    upsert/redo path).

    ``processed_buckets`` (single ``bucket`` column) scopes the manifest to
    the buckets THIS run touched — buckets written by earlier runs keep
    their original manifest rows. Without it, every bucket on disk is
    (re-)manifested under this run_id.
    """
    spark = extracted.sparkSession
    if table is not None:
        extracted.writeTo(table).overwritePartitions()
        done = spark.read.table(table)
    else:
        (extracted.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("bucket").parquet(output_path))
        # manifest derives from what is now durably on disk (not from the
        # pre-write plan — a lost task would otherwise go unnoticed)
        done = read_output(spark, output_path)
    scope = done
    if processed_buckets is not None:
        scope = done.join(F.broadcast(processed_buckets.select("bucket")
                                      .distinct()), "bucket", "left_semi")
    manifest = build_manifest(scope, run_id)
    if table is not None:
        manifest.writeTo(table + "_manifest").append()
    else:
        manifest.write.mode("append").parquet(manifest_path(output_path))
    return done


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Catalog-free existence probe via the JVM Hadoop FS (works for any
    supported filesystem: local, HDFS, s3a, ...)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(hconf).exists(p)


def read_manifest(spark: SparkSession, output_path: str) -> DataFrame | None:
    mpath = manifest_path(output_path)
    if not _path_exists(spark, mpath):
        return None  # first run: no manifest yet
    return spark.read.parquet(mpath)


def pending_buckets(spark: SparkSession, input_with_bucket: DataFrame,
                    output_path: str) -> DataFrame:
    """Rows of the input whose bucket has no manifest row yet (D6 resume).

    Anti-join keeps this scalable (the manifest can hold millions of bucket
    rows); with a small bucket count Catalyst broadcasts the manifest side
    automatically.
    """
    m = read_manifest(spark, output_path)
    if m is None:
        return input_with_bucket
    done = m.select("bucket").distinct()
    return input_with_bucket.join(F.broadcast(done), "bucket", "left_anti")
