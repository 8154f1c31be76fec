"""JSONL document ingestion: the LLM-corpus exchange format.

Next to WARC (the crawl container), JSONL is THE format corpora are
actually shipped in — one JSON object per line, gigabyte files, sharded
by count. Reference parity: the reference ingests provider JSON records
over its API routes (apps/web's version payloads); this is the bulk
equivalent with the same never-drop error envelope as the WARC source.

Record spec (implemented here AND independently in
tools/make_driver_fixtures.py:jsonl_fixture's oracle pass):

- file bytes decode utf-8 (replace) and split on ``\\n``; a trailing
  empty chunk from the final newline is dropped; every other line —
  including blank interior lines — yields exactly one row (never-drop).
- a line parses iff ``json.loads`` accepts it AND yields an object;
  ``url`` must be a non-empty string and ``text`` a string. Failures
  route to ``parse_error`` ∈ {empty, malformed, not_object, bad_url,
  bad_text} with all payload columns null.
- valid rows carry (url, ts, lang, n_tokens, sha256(text)) — ``ts`` /
  ``lang`` pass through when strings (else null), ``n_tokens`` when an
  int (else null); the text itself is hashed, not shipped, so the
  ingest manifest stays narrow.

Shape at scale: ``binaryFile`` yields one row per shard file and packs
files into tasks by size — parallelism comes free from the format's
sharding, the parse is one Arrow-batched ``map_rows``, and there is NO
shuffle anywhere in ingest (the warc.py shape).
"""

from __future__ import annotations

import hashlib
import json
import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from ocr_platform_spark.functions.md5int import md5_int
from ocr_platform_spark.functions.spark_udfs import map_rows
from ocr_platform_spark.sources.binfile import read_binary_files

FIXTURE_DIR = (pathlib.Path(__file__).resolve().parents[2]
               / "tests" / "fixtures" / "jsonl")

JSONL_SCHEMA = StructType([
    StructField("jsonl_file", StringType(), False),
    StructField("line_no", LongType(), False),
    StructField("url", StringType(), True),
    StructField("ts", StringType(), True),
    StructField("lang", StringType(), True),
    StructField("n_tokens", LongType(), True),
    StructField("text_sha256", StringType(), True),
    StructField("parse_error", StringType(), True),
])


def parse_jsonl_line(line: str) -> tuple:
    """One line → (url, ts, lang, n_tokens, text_sha256, parse_error)."""
    if not line.strip():
        return (None, None, None, None, None, "empty")
    try:
        obj = json.loads(line)
    except ValueError:
        return (None, None, None, None, None, "malformed")
    if not isinstance(obj, dict):
        return (None, None, None, None, None, "not_object")
    url = obj.get("url")
    if not isinstance(url, str) or not url:
        return (None, None, None, None, None, "bad_url")
    text = obj.get("text")
    if not isinstance(text, str):
        return (None, None, None, None, None, "bad_text")
    ts = obj.get("ts")
    lang = obj.get("lang")
    n_tok = obj.get("n_tokens")
    return (url,
            ts if isinstance(ts, str) else None,
            lang if isinstance(lang, str) else None,
            n_tok if isinstance(n_tok, int)
            and not isinstance(n_tok, bool) else None,
            hashlib.sha256(text.encode("utf-8")).hexdigest(),
            None)


def parse_jsonl_bytes(name: str, data: bytes) -> list[tuple]:
    """Whole file → rows per the module-docstring line spec."""
    text = data.decode("utf-8", "replace")
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()                      # trailing final newline
    return [(name, i) + parse_jsonl_line(ln)
            for i, ln in enumerate(lines)]


def _jsonl_rows(files: DataFrame) -> DataFrame:
    """(path, content) DataFrame → one row per line. One shared transform
    for the batch and streaming readers (the warc._warc_records shape)."""
    return map_rows(files, ["path", "content"],
                    lambda p, content: parse_jsonl_bytes(
                        p.rsplit("/", 1)[-1], bytes(content)),
                    JSONL_SCHEMA)


def read_jsonl(spark: SparkSession, path_glob: str) -> DataFrame:
    """Glob of .jsonl shard files → one row per line, never-drop."""
    return _jsonl_rows(read_binary_files(spark, path_glob))


def read_jsonl_stream(spark: SparkSession, path_glob: str) -> DataFrame:
    """Streaming variant: a binaryFile file-source stream over a growing
    shard directory — new .jsonl files are discovered per micro-batch
    and parsed by the SAME kernel, so streamed rows are row-identical to
    a batch ``read_jsonl`` over the same files (the read_warc_stream
    contract: no ``maxFilesPerTrigger``, so one drain takes every new
    file; the checkpoint's file log gives exactly-once per file)."""
    return _jsonl_rows(read_binary_files(spark, path_glob, stream=True))


def write_jsonl(docs: DataFrame, output_dir: str,
                n_shards: int = 8) -> None:
    """Export documents as sharded JSONL — the format corpora ship in.

    Shard membership is DETERMINISTIC (``md5int`` of the url % n_shards,
    the repo's engine-portable hash — never Spark's internal partitioner),
    so re-exports land every record in the same shard and a resume can
    diff shard-by-shard. Serialization is JVM-side ``to_json`` over a
    struct (no per-row Python); one file per shard via a hash
    repartition (each task streams one shard — bounded memory at any
    corpus size; raise n_shards with the corpus). Row ORDER within a
    shard is not part of the contract (the reader is order-insensitive
    by line_no anyway); the roundtrip pin compares record sets.
    """
    from pyspark.sql import functions as F

    shard = F.pmod(md5_int("url", 14), F.lit(n_shards))
    (docs.withColumn("shard", shard)
     .withColumn("line", F.to_json(F.struct(
         *[c for c in docs.columns])))
     .repartition(n_shards, "shard")
     .select("shard", "line")
     .write.partitionBy("shard").mode("overwrite").text(output_dir))


def jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture-oracled (committed shard files, scale-free):
    tools/make_driver_fixtures.py:jsonl_fixture re-parses the same
    bytes with an independently written json.loads pass."""
    return read_jsonl(spark, str(FIXTURE_DIR / "*.jsonl"))


from ocr_platform_spark.operators.registry import \
    fixture_sql as _fixture_sql  # noqa: E402

QUERIES: dict = {
    # wave 39: JSONL shard ingestion, beyond-window (local-gate record)
    "jsonl_ingest": (jsonl_ingest, _fixture_sql("jsonl_ingest.parquet")),
}
