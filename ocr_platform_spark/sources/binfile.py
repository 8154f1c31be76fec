"""The one ``binaryFile`` reader behind the file-container sources
(sources/warc.py, sources/jsonl.py), batch and streaming alike.

``binaryFile`` yields one ``(path, content)`` row per file and packs files
into tasks by size, so a container format's own sharding is the
partitioning and ingest needs no shuffle. A glob in the leaf (``*``, ``?``
or ``[``) becomes a ``pathGlobFilter`` over its parent directory; any
other path (a directory or a single file) is loaded as given.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (BinaryType, LongType, StringType,
                               StructField, StructType, TimestampType)

# the source's fixed schema, stated so a stream over a possibly-empty
# directory needs no inference pass
BINARY_FILE_SCHEMA = StructType([
    StructField("path", StringType(), False),
    StructField("modificationTime", TimestampType(), False),
    StructField("length", LongType(), False),
    StructField("content", BinaryType(), True),
])


def read_binary_files(spark: SparkSession, path_glob: str,
                      stream: bool = False) -> DataFrame:
    """``(path, content)`` per file matched by ``path_glob``; with
    ``stream`` a file-source stream whose checkpoint log hands each file
    to exactly one micro-batch."""
    reader = (spark.readStream if stream else spark.read) \
        .format("binaryFile").schema(BINARY_FILE_SCHEMA)
    base, _, leaf = path_glob.rpartition("/")
    if base and any(ch in leaf for ch in "*?["):
        reader = reader.option("pathGlobFilter", leaf)
        path_glob = base
    return reader.load(path_glob).select("path", "content")
