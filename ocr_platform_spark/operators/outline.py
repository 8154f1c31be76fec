"""Heading-outline extraction: the document's section structure.

The fourth structured-extraction kernel next to links, head metadata,
and tables: every ``<h1>``-``<h6>`` in document order as (url,
heading_idx, level, text). Outlines are what retrieval-prep pipelines
prepend to passage chunks ("section title context"), what TOC builders
consume, and the skeleton readers skim — and unlike the other kernels
this one needs NO augmentation: the synthetic pages carry natural
``<h2>``/``<h3>`` section headings.

Semantics (one spec, implemented twice — here as a collector over the
tag events of extract/tagscan.py, independently over stdlib html.parser
events in tools/make_driver_fixtures.py:extract_headings_fixture):

- heading_idx counts heading COMMITS per page in document order;
  level is the tag digit.
- Heading text = inter-tag data until the matching close tag (inline
  tags stripped, their text kept), entity-unescaped per segment,
  whitespace-normalized. A new heading open while one is open commits
  the open one first (implied close); ``</hN>`` of a DIFFERENT level
  also commits (browsers close the open heading — html.parser parity
  comes from the collector, not the tokenizer). An open heading at
  EOF never commits.
- Comments are invisible outside CDATA, raw inside; script/style
  bodies inside a heading are raw CDATA data.
- Empty headings commit as ``''``.

Scale: one mapInPandas fan-out projection, zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from ocr_platform_spark.extract.tagscan import map_pages, scan_tags

OUTLINE_DOCS = 300

OUTLINE_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("heading_idx", LongType(), False),
    StructField("level", LongType(), False),
    StructField("text", StringType(), False),
])

_H_TAGS = {f"h{i}": i for i in range(1, 7)}


class _OutlineCollector:
    def __init__(self) -> None:
        self.out: list[tuple[int, int, str]] = []
        self.level = 0              # 0 = no open heading
        self.buf: list[str] = []

    def _commit(self) -> None:
        if self.level:
            self.out.append((len(self.out), self.level,
                             " ".join("".join(self.buf).split())))
        self.level = 0
        self.buf = []

    def start(self, tag: str, attrs: str, selfclosed: bool) -> None:
        if tag in _H_TAGS:
            self._commit()              # implied close of the open one
            if selfclosed:
                self.out.append((len(self.out), _H_TAGS[tag], ""))
            else:
                self.level = _H_TAGS[tag]

    def end(self, tag: str) -> None:
        if tag in _H_TAGS:
            self._commit()

    def data(self, text: str) -> None:
        if self.level:
            self.buf.append(text)


def scan_headings(text: str) -> list[tuple[int, int, str]]:
    """(heading_idx, level, text) per heading, document order."""
    col = _OutlineCollector()
    scan_tags(text, col)
    return col.out


def page_headings(pages: DataFrame) -> DataFrame:
    return map_pages(pages, scan_headings, OUTLINE_SCHEMA)


def extract_headings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture-oracled (scale-free synthetic pages, valid at any
    sf_dir): tools/make_driver_fixtures.py:extract_headings_fixture
    re-parses the same pages with stdlib html.parser driving an
    independently written collector."""
    from ocr_platform_spark.sources.pages import pages_df

    return page_headings(pages_df(spark, OUTLINE_DOCS))


from ocr_platform_spark.operators.registry import \
    fixture_sql as _fixture_sql  # noqa: E402  (registry has no back-import)

QUERIES: dict = {
    # wave 34: heading-outline extraction, beyond-window (local-gate
    # record)
    "extract_headings": (
        extract_headings, _fixture_sql("extract_headings.parquet")),
}
