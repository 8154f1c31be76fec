"""Feed extraction: RSS/Atom entries — the crawl-discovery format.

The sixth structured-extraction kernel: syndication feeds are how
crawlers DISCOVER fresh urls (next to sitemaps), and a feed's entries
are (title, link, timestamp) triples in two dialects — RSS 2.0
(``<item><title>t</title><link>url</link><pubDate>d</pubDate>``) and
Atom (``<entry><title>t</title><link href="url"/><updated>d</updated>``).
Both are XML, which the package's one tokenizer (extract/fast_scanner)
reads unchanged.

Spec (implemented here as a collector over the events of
extract/fast_scanner.scan, whose module docstring states the contract,
AND independently over html.parser events in
tools/make_driver_fixtures.py:feeds_fixture):

- an ``<item>`` or ``<entry>`` start opens a new entry (entry_idx in
  document order); fields before any entry bind to entry_idx -1 (the
  channel/feed header — its ``<title>`` is the FEED title).
- ``title`` / ``link`` / ``pubDate`` / ``updated`` (tag names
  lowercased; pubDate and updated both land in the ``updated`` field):
  an Atom ``<link>`` with an ``href`` attr commits that attr
  immediately; otherwise the field captures inter-tag text to its own
  close tag, implied-closed by the next field/entry start; open text
  at EOF never commits. FIRST value per (entry, field) wins.
- comments invisible outside CDATA, raw inside script/style (the
  scanner's rules — feeds rarely carry these, the fuzzer does).
- output: one row per entry (incl. -1 when it has any field) with
  (title, link, updated, n_fields).

Scale: one mapInPandas fan-out projection, zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (BinaryType, LongType, StringType,
                               StructField, StructType)

from ocr_platform_spark.extract.tagscan import collect, first_wins, map_pages

FEED_DOCS = 200

FEED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("entry_idx", LongType(), False),
    StructField("title", StringType(), True),
    StructField("link", StringType(), True),
    StructField("updated", StringType(), True),
    StructField("n_fields", LongType(), False),
])

_ENTRY_TAGS = ("item", "entry")
_FIELD_TAGS = {"title": "title", "link": "link",
               "pubdate": "updated", "updated": "updated"}


# --- collection state machine ----------------------------------------------

class FeedCollector:
    def __init__(self) -> None:
        self.fields: dict[int, dict[str, str]] = {}
        self.entry_idx = -1
        self.open_field: tuple[int, str, str] | None = None  # e, field, tag
        self.buf: list[str] = []

    def _set(self, entry: int, field: str, value: str) -> None:
        d = self.fields.setdefault(entry, {})
        if field not in d:                  # first value wins
            d[field] = value

    def _commit_open(self) -> None:
        if self.open_field is not None:
            e, field, _tag = self.open_field
            self._set(e, field, " ".join("".join(self.buf).split()))
        self.open_field = None
        self.buf = []

    def handle_starttag(self, tag: str, attrs: list) -> None:
        self._start(tag, attrs, False)

    def handle_startendtag(self, tag: str, attrs: list) -> None:
        self._start(tag, attrs, True)

    def _start(self, tag: str, attrs: list, selfclosed: bool) -> None:
        if tag in _ENTRY_TAGS or tag in _FIELD_TAGS:
            self._commit_open()
        if tag in _ENTRY_TAGS:
            self.entry_idx += 1
            self.fields.setdefault(self.entry_idx, {})
            return
        if tag in _FIELD_TAGS:
            field = _FIELD_TAGS[tag]
            href = first_wins(attrs).get("href") if tag == "link" else None
            if href is not None:
                self._set(self.entry_idx, field, href)
            elif not selfclosed:
                self.open_field = (self.entry_idx, field, tag)
                self.buf = []
            else:
                self._set(self.entry_idx, field, "")

    def handle_endtag(self, tag: str) -> None:
        if self.open_field is not None and tag == self.open_field[2]:
            self._commit_open()

    def handle_data(self, text: str) -> None:
        if self.open_field is not None:
            self.buf.append(text)


def scan_feed(text: str) -> list[tuple[int, str | None, str | None,
                                       str | None, int]]:
    """(entry_idx, title, link, updated, n_fields) rows; entries with
    zero fields still emit a row (an empty <item/> is an entry); the
    -1 header row emits only when it captured a field."""
    col = collect(text, FeedCollector())
    return [(e, d.get("title"), d.get("link"), d.get("updated"), len(d))
            for e, d in sorted(col.fields.items()) if e != -1 or d]


def page_feeds(feeds: DataFrame) -> DataFrame:
    return map_pages(feeds, scan_feed, FEED_SCHEMA, col="xml")


def feeds_df(spark: SparkSession, n: int = FEED_DOCS) -> DataFrame:
    from ocr_platform_spark.datagen import feed_doc
    from ocr_platform_spark.sources.pages import generated_df

    return generated_df(spark, n, lambda i: [feed_doc(i)], StructType([
        StructField("url", StringType()), StructField("xml", BinaryType())]))


def extract_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture-oracled (scale-free synthetic feed corpus):
    tools/make_driver_fixtures.py:feeds_fixture re-parses the same
    bytes with an independent html.parser collector."""
    return page_feeds(feeds_df(spark))




def cx_feed_recrawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scheduling step feed discovery exists for: collapse every
    feed-announced link onto ONE recrawl candidate carrying its newest
    announcement (keep-newest as a MAX-STRUCT AGGREGATE over
    (updated, url, entry_idx) — no window; a link announced by a
    million feeds is one combine-able row), counting how many feeds
    announce it (syndication fan-in = a popularity prior the frontier
    can rank by). Entries without a link (or the -1 header rows) are
    not candidates and drop here BY CONTRACT — the extraction query
    keeps them; this is the consumer. Oracle = live SQL over the feed
    fixture (fixture pins the scanner; the fold stays SQL)."""
    from pyspark.sql import functions as F

    entries = extract_feed(spark, sf_dir)
    cands = entries.where(F.col("link").isNotNull()
                          & (F.col("entry_idx") >= 0))
    newest = F.max(F.struct(
        F.coalesce("updated", F.lit("")).alias("u"),
        F.col("url").alias("feed_url")))
    return (cands.groupBy("link")
            .agg(F.count("*").cast("long").alias("n_announcements"),
                 F.countDistinct("url").cast("long").alias("n_feeds"),
                 newest.alias("k"))
            .select("link", "n_announcements", "n_feeds",
                    F.when(F.col("k.u") == "", None)
                    .otherwise(F.col("k.u")).alias("newest_updated"),
                    F.col("k.feed_url").alias("newest_feed")))


from ocr_platform_spark.operators.registry import \
    fixture_sql as _fixture_sql  # noqa: E402

CX_FEED_RECRAWL_SQL = (
    "WITH e AS (" + _fixture_sql("extract_feed.parquet") + """)
SELECT link, CAST(count(*) AS BIGINT) AS n_announcements,
       CAST(count(DISTINCT url) AS BIGINT) AS n_feeds,
       CASE WHEN max(coalesce(updated, '') || chr(1) || url)
                 LIKE chr(1) || '%' THEN NULL
            ELSE split_part(max(coalesce(updated, '') || chr(1) || url),
                            chr(1), 1) END AS newest_updated,
       split_part(max(coalesce(updated, '') || chr(1) || url),
                  chr(1), 2) AS newest_feed
FROM e WHERE link IS NOT NULL AND entry_idx >= 0
GROUP BY link""")

QUERIES: dict = {
    # wave 49: RSS/Atom feed extraction, beyond-window (local-gate
    # record)
    "extract_feed": (
        extract_feed, _fixture_sql("extract_feed.parquet")),
    # wave 51: feed-driven recrawl queue, beyond-window
    "cx_feed_recrawl": (cx_feed_recrawl, CX_FEED_RECRAWL_SQL),
}
