"""Content-defined chunking: Gear-hash (FastCDC-style) byte chunks.

The binary-level member of the dedup family: where MinHash finds
near-duplicate DOCUMENTS, content-defined chunking finds shared BYTE
RANGES — the storage-dedup primitive (LBFS, FastCDC) that corpus
pipelines use on raw payloads: two crawls of a template site share
their boilerplate chunks byte-for-byte even when every page differs
somewhere, and chunk-level fingerprints price exactly how much of a
host is shared bytes. Boundaries depend only on CONTENT (a rolling
hash), so an insertion early in a file shifts boundaries only locally
— the property fixed-size blocks lack.

Spec (implemented here AND independently in
tools/make_driver_fixtures.py:cdc_fixture's oracle pass):

- gear[b] for byte b = ``md5_int_py(bytes([b]), 15)``, the repo's
  engine-portable hash (functions/md5int), 60-bit values.
- rolling state h over the current chunk: h = ((h << 1) + gear[b])
  & (2^62 - 1), starting at 0 per chunk (non-negative int64 always).
- a boundary closes the chunk AFTER byte i when chunk_len >= MIN and
  (h & MASK) == 0, or unconditionally at chunk_len == MAX; the file
  tail closes the final chunk (any length >= 1).
- per chunk: (chunk_idx, offset, length, md5 hex of the chunk bytes).
  Empty payloads yield no rows.

MIN=64, MAX=1024, MASK=2^7-1 (expected ~128-byte chunks + the MIN
floor) — sized so the ~1-3 KiB synthetic pages cut into a handful of
chunks and shared nav/header boilerplate across same-host pages
actually lands on shared chunk hashes (pinned).

Scale: one Arrow-batched ``map_rows`` fan-out, zero shuffle; the
downstream chunk-fingerprint census is one map-side-combined groupBy.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from ocr_platform_spark.functions.md5int import md5_int_py
from ocr_platform_spark.functions.spark_udfs import map_rows

CDC_MIN = 64
CDC_MAX = 1024
CDC_MASK = (1 << 7) - 1
_H_MASK = (1 << 62) - 1

GEAR = tuple(md5_int_py(bytes([b]), 15) for b in range(256))

CDC_DOCS = 300

CDC_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("chunk_idx", LongType(), False),
    StructField("offset", LongType(), False),
    StructField("length", LongType(), False),
    StructField("chunk_md5", StringType(), False),
])


def cdc_boundaries(data: bytes) -> list[int]:
    """Chunk END offsets (exclusive), per the module-docstring rule."""
    out: list[int] = []
    h = 0
    clen = 0
    for i, b in enumerate(data):
        h = ((h << 1) + GEAR[b]) & _H_MASK
        clen += 1
        if clen == CDC_MAX or (clen >= CDC_MIN and (h & CDC_MASK) == 0):
            out.append(i + 1)
            h = 0
            clen = 0
    if clen:
        out.append(len(data))
    return out


def cdc_chunks(url: str, data: bytes) -> list[tuple]:
    rows = []
    start = 0
    for idx, end in enumerate(cdc_boundaries(data)):
        rows.append((url, idx, start, end - start,
                     hashlib.md5(data[start:end]).hexdigest()))
        start = end
    return rows


def page_cdc(pages: DataFrame) -> DataFrame:
    return map_rows(pages, ["url", "html"],
                    lambda u, h: [] if h is None else cdc_chunks(u, bytes(h)),
                    CDC_SCHEMA)


def dd_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture-oracled (scale-free synthetic pages):
    tools/make_driver_fixtures.py:cdc_fixture re-chunks the same bytes
    with an independently written rolling-hash pass."""
    from ocr_platform_spark.sources.pages import pages_df

    return page_cdc(pages_df(spark, CDC_DOCS))


def dd_cdc_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup decision the chunks exist for: per chunk fingerprint,
    how many copies across the corpus and how many bytes one copy
    frees per duplicate. One map-side-combined aggregate; only
    fingerprints shared by >1 location survive (stable small output).
    Oracle = live SQL over the chunk fixture."""
    chunks = dd_cdc_chunks(spark, sf_dir)
    return (chunks.groupBy("chunk_md5")
            .agg(F.count("*").cast("long").alias("n_copies"),
                 F.max("length").cast("long").alias("chunk_len"),
                 F.countDistinct("url").cast("long").alias("n_urls"))
            .filter(F.col("n_copies") > 1))


from ocr_platform_spark.operators.registry import \
    fixture_sql as _fixture_sql  # noqa: E402

DD_CDC_CENSUS_SQL = (
    "SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_copies,\n"
    "       CAST(max(length) AS BIGINT) AS chunk_len,\n"
    "       CAST(count(DISTINCT url) AS BIGINT) AS n_urls\n"
    "FROM (" + _fixture_sql("dd_cdc_chunks.parquet") + ")\n"
    "GROUP BY chunk_md5 HAVING count(*) > 1")

QUERIES: dict = {
    # wave 48: content-defined chunking, beyond-window (local-gate
    # record)
    "dd_cdc_chunks": (
        dd_cdc_chunks, _fixture_sql("dd_cdc_chunks.parquet")),
    "dd_cdc_census": (dd_cdc_census, DD_CDC_CENSUS_SQL),
}
