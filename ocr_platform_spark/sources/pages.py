"""Distributed synthesis of the Common-Crawl-style pages table.

Shape per BASELINE.json → input_hint:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Spark-first design: ``spark.range(n)`` gives a perfectly-balanced distributed
index space; ``map_rows`` turns each Arrow batch of indices into page rows
by calling the pure generator (``ocr_platform_spark.datagen.gen_document``,
a pure function of (seed, index)). No data ever funnels through the driver,
so the same call scales from 500 rows in tests to 10^12 on a cluster — the
generator IS the 100 TB table, materialized lazily per partition.

``generated_df`` is that one pass for any generator: the pages and media
tables here and every other synthetic corpus (the structured kernels'
augmented pages, feeds and code pages, the image twins), all defined in
``datagen``.

Replaces the reference's fetch-and-cache source path
(apps/queue/src/lib/ocr.ts:15-33): document bytes simply arrive as a
BinaryType column of the scan.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

from ocr_platform_spark.functions.spark_udfs import map_rows

PAGES_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), False),
    StructField("html", BinaryType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
])


def generated_df(spark: SparkSession, n: int,
                 rows_of_index: Callable[[int], Iterable],
                 schema: StructType,
                 partitions: int | None = None) -> DataFrame:
    """Every row of ``rows_of_index(i)`` for i in [0, n), as a DataFrame
    of ``schema``: ``spark.range`` splits the index space into
    ``partitions`` (default: the default parallelism) and one
    ``map_rows`` pass generates each split where it runs. Every
    synthetic corpus of the package is built this way."""
    nparts = partitions or spark.sparkContext.defaultParallelism
    return map_rows(spark.range(0, n, 1, nparts), ["id"],
                    lambda i: rows_of_index(int(i)), schema)


def pages_df(spark: SparkSession, n_docs: int, seed: int = 42,
             partitions: int | None = None) -> DataFrame:
    """The synthetic pages table as a distributed DataFrame (no driver data)."""
    from ocr_platform_spark.datagen import gen_document

    return generated_df(spark, n_docs, lambda i: [gen_document(i, seed)],
                        PAGES_SCHEMA, partitions)


MEDIA_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("media", BinaryType(), True),
])


def media_df(spark: SparkSession, n_rows: int, seed: int = 42,
             partitions: int | None = None) -> DataFrame:
    """Synthetic media table (url, media:binary PNG payloads), distributed
    exactly like pages_df — the generator is the table."""
    from ocr_platform_spark.datagen import gen_media

    return generated_df(spark, n_rows, lambda i: [gen_media(i, seed)],
                        MEDIA_SCHEMA, partitions)


def write_pages(spark: SparkSession, n_docs: int, path: str,
                seed: int = 42, partitions: int | None = None) -> None:
    """Materialize the pages table to parquet (bench/test input staging)."""
    pages_df(spark, n_docs, seed, partitions).write.mode("overwrite").parquet(path)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Read a materialized pages table; in production this is
    ``spark.read.table(iceberg_tbl)`` — parquet is the sandbox fallback
    (SURVEY.md §7 'No Iceberg runtime in sandbox')."""
    return spark.read.schema(PAGES_SCHEMA).parquet(path)
