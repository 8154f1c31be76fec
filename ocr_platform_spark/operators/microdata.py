"""Microdata extraction: schema.org itemscope/itemprop records.

The fifth structured-extraction kernel (links, head metadata, tables,
outlines, MICRODATA): product/article markup annotated inline with
``itemscope``/``itemprop`` is the other structured-data channel next to
JSON-LD, and crawl pipelines mine it into (item, prop, value) triples.

Simplified spec (a documented WHATWG subset — one spec, implemented
twice: here as a collector over the events of extract/fast_scanner.scan,
whose module docstring states the contract, independently over stdlib
html.parser events in
tools/make_driver_fixtures.py):

- every start tag bearing ``itemscope`` opens a new item (item_idx in
  document order); props bind to the MOST RECENTLY OPENED item (flat —
  no ancestor tracking; nested itemscopes are simply later items).
  Props before any itemscope bind to item_idx -1 (orphans kept — the
  never-drop spirit).
- a start tag bearing ``itemprop`` yields one prop record. Its value:
  ``content`` attr for meta, ``href`` for a/link, ``src`` for img,
  ``datetime`` (else text) for time; any other tag (or a time without
  datetime) captures inter-tag TEXT — entity-unescaped per segment,
  whitespace-normalized — until the first close tag of the SAME name,
  or the next itemprop/itemscope start (implied close), whichever
  comes first; an open text prop at EOF never commits. Attr-valued
  props commit immediately (empty attr value commits as '').
- prop_idx counts prop COMMITS per item, document order.
- comments are invisible outside CDATA, raw inside; script/style
  bodies are CDATA data for an open text prop, and a script/style
  start tag bearing ``itemprop`` is a text prop like any other.

Scale: one mapInPandas fan-out projection, zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from ocr_platform_spark.extract.tagscan import collect, first_wins, map_pages

MICRO_DOCS = 300

MICRO_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("item_idx", LongType(), False),
    StructField("prop_idx", LongType(), False),
    StructField("prop", StringType(), False),
    StructField("value", StringType(), False),
])

_ATTR_VALUED = {"meta": "content", "a": "href", "link": "href",
                "img": "src"}


# --- collection state machine (production side) ----------------------------

class MicroCollector:
    """Event-driven collector for the module-docstring spec, fed by
    extract/fast_scanner.scan."""

    def __init__(self) -> None:
        self.out: list[tuple[int, int, str, str]] = []
        self.item_idx = -1
        self.n_props: dict[int, int] = {}
        self.open_prop: tuple[int, str, str] | None = None  # item, prop, tag
        self.buf: list[str] = []

    def _commit_value(self, item: int, prop: str, value: str) -> None:
        k = self.n_props.get(item, 0)
        self.n_props[item] = k + 1
        self.out.append((item, k, prop, value))

    def _commit_open(self) -> None:
        if self.open_prop is not None:
            item, prop, _tag = self.open_prop
            self._commit_value(item, prop,
                               " ".join("".join(self.buf).split()))
        self.open_prop = None
        self.buf = []

    def handle_starttag(self, tag: str, attrs: list) -> None:
        self._start(tag, attrs, False)

    def handle_startendtag(self, tag: str, attrs: list) -> None:
        self._start(tag, attrs, True)

    def _start(self, tag: str, attrlist: list, selfclosed: bool) -> None:
        attrs = first_wins(attrlist)
        if "itemscope" in attrs or "itemprop" in attrs:
            self._commit_open()                 # implied close
        if "itemscope" in attrs:
            self.item_idx += 1
        if "itemprop" in attrs:
            prop = attrs.get("itemprop") or ""
            if tag in _ATTR_VALUED and attrs.get(_ATTR_VALUED[tag]) \
                    is not None:
                self._commit_value(self.item_idx, prop,
                                   attrs[_ATTR_VALUED[tag]])
            elif tag == "time" and attrs.get("datetime") is not None:
                self._commit_value(self.item_idx, prop, attrs["datetime"])
            elif not selfclosed:
                self.open_prop = (self.item_idx, prop, tag)
                self.buf = []
            else:
                self._commit_value(self.item_idx, prop, "")

    def handle_endtag(self, tag: str) -> None:
        if self.open_prop is not None and tag == self.open_prop[2]:
            self._commit_open()

    def handle_data(self, text: str) -> None:
        if self.open_prop is not None:
            self.buf.append(text)


def scan_microdata(text: str) -> list[tuple[int, int, str, str]]:
    """(item_idx, prop_idx, prop, value) per prop commit."""
    return collect(text, MicroCollector()).out


def page_microdata(pages: DataFrame) -> DataFrame:
    return map_pages(pages, scan_microdata, MICRO_SCHEMA)


def extract_microdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture-oracled (scale-free synthetic pages):
    tools/make_driver_fixtures.py:extract_microdata_fixture re-parses
    the same augmented pages with stdlib html.parser driving an
    independently written collector."""
    from ocr_platform_spark.datagen import augment_html_micro, gen_augmented
    from ocr_platform_spark.sources.pages import PAGES_SCHEMA, generated_df

    return page_microdata(generated_df(
        spark, MICRO_DOCS,
        lambda i: [gen_augmented(i, augment_html_micro)], PAGES_SCHEMA))




def item_catalog(triples: DataFrame) -> DataFrame:
    """The fold itself, factored so the duplicate-prop tie-break is
    unit-testable on synthetic triples."""
    def first_of(prop: str, alias: str):
        return F.min(F.when(F.col("prop") == prop,
                            F.struct("prop_idx", "value")))["value"] \
            .alias(alias)

    return (triples.groupBy("url", "item_idx")
            .agg(F.count("*").cast("long").alias("n_props"),
                 first_of("name", "item_name"),
                 first_of("url", "item_url"),
                 first_of("image", "image"),
                 first_of("date", "date")))


def cx_item_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumption side of microdata: fold each item's prop triples
    into one wide catalog record (name/url/image/date + prop count) —
    the (url, item) grain a product-search or metadata-enrichment
    pipeline joins against. FIRST-prop-wins inside an item (min by
    prop_idx via min(struct(prop_idx, value)) — an AGGREGATE, no
    window; the oracle's arg_min(value, prop_idx) mirrors it exactly,
    NOT a lexicographic min over values); items keep a row even when
    sparse, and orphan props (item_idx -1) surface as their own row.

    Oracle = live SQL over the extract_microdata fixture (the
    cx_canonical_dedup pattern: the fixture pins the scanner, the fold
    stays SQL)."""
    return item_catalog(extract_microdata(spark, sf_dir))


from ocr_platform_spark.operators.registry import \
    fixture_sql as _fixture_sql  # noqa: E402

CX_ITEM_CATALOG_SQL = (
    "WITH t AS (" + _fixture_sql("extract_microdata.parquet") + """)
SELECT url, item_idx,
       CAST(count(*) AS BIGINT) AS n_props,
       arg_min(value, prop_idx) FILTER (WHERE prop = 'name')
           AS item_name,
       arg_min(value, prop_idx) FILTER (WHERE prop = 'url')
           AS item_url,
       arg_min(value, prop_idx) FILTER (WHERE prop = 'image') AS image,
       arg_min(value, prop_idx) FILTER (WHERE prop = 'date') AS date
FROM t GROUP BY url, item_idx""")

QUERIES: dict = {
    # wave 46: microdata extraction, beyond-window (local-gate record)
    "extract_microdata": (
        extract_microdata, _fixture_sql("extract_microdata.parquet")),
    # wave 47: wide catalog fold over the triples, beyond-window
    "cx_item_catalog": (cx_item_catalog, CX_ITEM_CATALOG_SQL),
}
